package perfbench

import graft.exec.{SparqlExecutor, SparqlUpdate}
import graft.graph.TriplesGraph
import graft.parser.SparqlParser
import graft.sparql.TpchGraph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** The write side of the `kg` workload, on the persisted graph store
  * that the workload's setup saves from `TpchGraph.graph`. Three kinds of
  * write — an `INSERT DATA` batch, a `DELETE/INSERT … WHERE` through
  * `SparqlUpdate.execute`, and a stOttr batch expanded by `Mapping.expand`
  * and applied with `applyDelta` — each committed with `saveDelta` and
  * followed by a SELECT over the touched subjects on the reloaded store,
  * which must return the values just written. Every round ends with
  * `TriplesGraph.compact`. After the loop the reloaded store must equal
  * the in-memory graph with the effect the operation log implies, with the
  * triple count the log predicts. */
object KgUpdate {

  private val g = TpchGraph.ns
  /** Subject buckets of the store, sized to the benchmark's graph. */
  val subjectBuckets = 2
  val kinds = Seq("insert_data", "modify_where", "stottr")
  private val prologue =
    s"""PREFIX g:<$g>
       |PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
       |""".stripMargin
  private val stottr =
    s"""@prefix g:<$g>.
       |g:BenchSupplier [xsd:anyURI ?s, ?name, xsd:double ?bal, xsd:anyURI ?nat]
       |  :: {
       |    ottr:Triple(?s, g:name, ?name) ,
       |    ottr:Triple(?s, g:acctbal, ?bal) ,
       |    ottr:Triple(?s, g:nation, ?nat)
       |  } .""".stripMargin

  /** A new supplier entity: IRI, name, balance, nation IRI. */
  final case class Entity(iri: String, name: String, bal: Double, nat: String)

  /** One logged write, replayable against any graph. */
  sealed trait Write {
    def kind: String
    def subjects: Seq[String]
  }
  final case class InsertData(entities: Seq[Entity]) extends Write {
    def kind = "insert_data"
    def subjects: Seq[String] = entities.map(_.iri)
    def text: String = prologue + entities.map { e =>
      s"""<${e.iri}> g:name "${e.name}" .
         |<${e.iri}> g:acctbal "${e.bal}"^^xsd:double .
         |<${e.iri}> g:nation <${e.nat}> .""".stripMargin
    }.mkString("INSERT DATA {\n", "\n", "\n}")
  }
  final case class ModifyWhere(subjects: Seq[String], delta: Double)
      extends Write {
    def kind = "modify_where"
    def text: String = prologue +
      s"""DELETE { ?s g:acctbal ?b }
         |INSERT { ?s g:acctbal ?nb }
         |WHERE {
         |  VALUES ?s { ${subjects.map(s => s"<$s>").mkString(" ")} }
         |  ?s g:acctbal ?b .
         |  BIND(?b + $delta AS ?nb)
         |}""".stripMargin
  }
  final case class StottrBatch(entities: Seq[Entity]) extends Write {
    def kind = "stottr"
    def subjects: Seq[String] = entities.map(_.iri)
  }

  private def emptyDelta(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    Seq.empty[(String, String, String)].toDF("s", "p", "o")
  }

  /** Apply one write to `graph`, tracing each module call. */
  def apply(ctx: Ctx, graph: TriplesGraph, w: Write): TriplesGraph = {
    val tr = ctx.tracer
    w match {
      case i: InsertData =>
        tr.span("exec", "update")(SparqlUpdate.execute(graph, i.text))
      case m: ModifyWhere =>
        tr.span("exec", "update")(SparqlUpdate.execute(graph, m.text))
      case StottrBatch(es) =>
        val inserts = tr.span("mapper", "expand") {
          import ctx.spark.implicits._
          val m = graft.mapper.Mapping.fromString(stottr, ctx.spark)
          m.expand(s"${g}BenchSupplier",
            es.map(e => (e.iri, e.name, e.bal, e.nat)).toDF("s", "name", "bal", "nat"))
          m.triplesDf.select(col("s"), col("p"), col("o_lex").as("o"))
        }
        tr.span("graph", "apply_delta")(graph.applyDelta(emptyDelta(ctx), inserts))
    }
  }

  /** The SELECT over a write's touched subjects and predicates. */
  private def readBack(w: Write): String = {
    val values = w.subjects.map(s => s"<$s>").mkString(" ")
    w match {
      case _: ModifyWhere =>
        prologue + s"SELECT ?s ?b WHERE { VALUES ?s { $values } ?s g:acctbal ?b }"
      case _ =>
        prologue + s"""SELECT ?s ?n ?b ?nat WHERE {
           |  VALUES ?s { $values }
           |  ?s g:name ?n . ?s g:acctbal ?b . ?s g:nation ?nat }""".stripMargin
    }
  }

  private def rowKey(r: Row): String =
    r.toSeq.map(String.valueOf).mkString("|")

  /** The writes of one run against the store at `store`, which holds
    * `base` as saved by the setup, drawing them from `rng`. Keeps the
    * benchmark's model of what it wrote, the operation log and the
    * timings. */
  final class Writer(ctx: Ctx, base: TriplesGraph, store: String,
      rng: scala.util.Random) {
    private val spark = ctx.spark
    private val out = ctx.out
    private val tr = ctx.tracer

    // the benchmark's model of the data it writes: current balances
    private val balance = mutable.Map.empty[String, Double]
    graft.T.supplier(spark, ctx.cfg.data).select("s_suppkey", "s_acctbal")
      .collect().foreach(r =>
        balance(s"${g}supplier:${r.getLong(0)}") = r.getDouble(1))
    private val existing = balance.keys.toVector.sorted
    private val names = mutable.Map.empty[String, (String, String)]
    private val touched = mutable.Set.empty[String]
    private var fresh = 0
    private def entities(): Seq[Entity] = Seq.fill(4 + rng.nextInt(5)) {
      fresh += 1
      val iri = s"${g}supplier:bench${ctx.cfg.seed}_$fresh"
      Entity(iri, s"Bench supplier $fresh", (rng.nextInt(1000000) - 99999) / 100.0,
        s"${g}nation:${rng.nextInt(25)}")
    }
    private def nextWrite(kind: String): Write = kind match {
      case "insert_data" => InsertData(entities())
      case "stottr" => StottrBatch(entities())
      case "modify_where" => ModifyWhere(
        rng.shuffle(existing).take(3 + rng.nextInt(5)).sorted,
        (1 + rng.nextInt(500)) / 4.0)
    }
    /** Expected read-back rows after `w`, updating the model. */
    private def expect(w: Write): Set[String] = w match {
      case ModifyWhere(ss, d) =>
        ss.map { s =>
          balance(s) = balance(s) + d
          touched += s
          s"$s|${balance(s)}"
        }.toSet
      case _ =>
        val es = w match {
          case InsertData(x) => x
          case StottrBatch(x) => x
          case _ => Nil
        }
        es.map { e =>
          balance(e.iri) = e.bal
          touched += e.iri
          names(e.iri) = (e.name, e.nat)
          s"${e.iri}|${e.name}|${e.bal}|${e.nat}"
        }.toSet
    }

    private val log = mutable.ArrayBuffer.empty[Write]
    /** Untraced legs: write + commit, load + SELECT, and whole-cycle
      * seconds (the cycle also carries a share of its round's compaction). */
    val update = mutable.ArrayBuffer.empty[Double]
    val read = mutable.ArrayBuffer.empty[Double]
    val cycle = mutable.ArrayBuffer.empty[Double]
    private val samples = mutable.ArrayBuffer.empty[(String, Double, Double)]
    /** (traced, untraced) whole-cycle seconds of each traced pair. */
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    private var graph = TriplesGraph.load(spark, store)
    private var roundStart = 0

    /** Run `w` with its commit and read-back once as operation `opId`,
      * checking the read-back against `want`; returns (update, read-back,
      * whole) seconds. `release` frees cached blocks afterwards. */
    private def leg(w: Write, want: Set[String], opId: Int, release: Boolean)
        : Option[(Double, Double, Double)] = {
      tr.beginOp(opId)
      val opStart = System.nanoTime()
      val result = try tr.span("op", w.kind) {
        val (_, upd) = ctx.timed {
          val next = apply(ctx, graph, w)
          tr.span("graph", "save_delta")(next.saveDelta(store))
        }
        val (rows, rd) = ctx.timed {
          graph = tr.span("graph", "load")(TriplesGraph.load(spark, store))
          val q = tr.span("parser", "parse")(SparqlParser.parse(readBack(w)))
          val df = tr.span("exec", "translate")(new SparqlExecutor(graph).execute(q))
          tr.span("spark", "plan")(df.queryExecution.executedPlan)
          tr.span("spark", "execute")(df.collect())
        }
        Right((upd, rd, rows))
      } catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - opStart) / 1e9
      val r = result match {
        case Right((upd, rd, rows)) =>
          val got = rows.map(rowKey).toSet
          out.op(got == want && rows.length == want.size,
            s"${w.kind} op $opId read back ${got.take(3)} expected ${want.take(3)}")
          Some((upd, rd, secs))
        case Left(e) =>
          out.op(ok = false, s"${w.kind} op $opId: ${e.getMessage}")
          None
      }
      if (release) ctx.release()
      r
    }

    /** A warm-up write of `kind` (untimed, but checked like any other
      * write). It leaves cached blocks in place, so it may run beside
      * other work of the session. */
    def warmUp(kind: String): Unit = {
      val w = nextWrite(kind)
      log += w
      leg(w, expect(w), ctx.newOpId(), release = false)
    }

    /** The next write of `kind`, logged once. A traced run runs it as a
      * pair of legs from the same store state (`i` orders the pair). */
    def write(kind: String, i: Int): Unit = {
      val w = nextWrite(kind)
      log += w
      val want = expect(w)
      val before = graph
      val restore = if (ctx.cfg.trace) {
        val back = Ctx.snapshot(Seq(store))
        () => { back(); graph = before }
      } else () => ()
      val opId = ctx.newOpId()
      val legs = ctx.pair(i, restore)(leg(w, want, opId, release = true))
      legs.foreach {
        case (false, Some((upd, rd, secs))) =>
          update += upd
          read += rd
          cycle += secs
          samples += ((w.kind, upd, rd))
        case _ =>
      }
      val secs = legs.collect { case (t, Some((_, _, s))) => t -> s }.toMap
      if (secs.size == 2) pairs += ((secs(true), secs(false)))
    }

    /** End a round: compact the store (compaction swaps the store's files,
      * so reload before the next write) and charge each of the round's
      * writes an equal share of it. */
    def compactRound(): Unit = {
      tr.setActive(ctx.cfg.trace)
      val (_, compaction) = ctx.timed {
        tr.span("graph", "compact")(TriplesGraph.compact(spark, store))
        graph = tr.span("graph", "load")(TriplesGraph.load(spark, store))
      }
      tr.setActive(false)
      for (i <- roundStart until cycle.size)
        cycle(i) += compaction / (cycle.size - roundStart)
      roundStart = cycle.size
    }

    /** The store check and the write-side metrics. */
    def finish(): Unit = {
      // the mean over the kinds: each kind of write weighs in (a median of
      // three is the middle kind's time), and it is steadier across runs
      out.metric("write_mean_s", update.sum / update.size, "s")
      out.metric("write_p50_s", Ctx.median(update.toSeq), "s")
      out.metric("write_p90_s", Ctx.pct(update.toSeq, 0.9), "s")
      // closed-loop throughput from the median write cycle (write, commit,
      // read-back, share of the round's compaction): one host stall moves
      // a sum over a handful of writes by tens of percent, a median not
      out.metric("updates_per_s", 1.0 / Ctx.median(cycle.toSeq), "1/s")
      out.metric("read_p50_s", Ctx.median(read.toSeq), "s")
      out.info("writes") = log.groupBy(_.kind).map { case (k, v) => k -> v.size }
      out.info("write_samples") = samples.map { case (k, u, r) => Seq(k, u, r) }

      // the reloaded store equals the in-memory graph with the log's effect
      // applied by the benchmark's own model: its triple count is the base
      // count plus three per inserted entity, and on the written predicates
      // the acctbal rows of every written subject carry the model's balance
      // and every inserted entity has its name and nation rows
      val storedCount = try {
        val acct = s"${g}acctbal"
        val writtenPreds = Seq(s"${g}name", acct, s"${g}nation")
        val storedAll = TriplesGraph.load(spark, store).allTriples
        val n = storedAll.count()
        val baseCount = base.allTriples.count()
        val inserted = 3L * names.size
        out.check(n == baseCount + inserted,
          s"store holds $n triples, the log predicts ${baseCount + inserted}")
        // the written predicates' triples must match exactly
        def written(df: DataFrame): Set[(String, String, String)] =
          df.filter(col("p").isin(writtenPreds: _*)).select("s", "p", "o")
            .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
            .toSet
        val expected = written(base.allTriples)
          .filterNot(t => t._2 == acct && touched(t._1)) ++
          touched.map(s => (s, acct, balance(s).toString)) ++
          names.toSeq.flatMap { case (s, (nm, nat)) =>
            Seq((s, s"${g}name", nm), (s, s"${g}nation", nat)) }
        val stored = written(storedAll)
        val diff = (stored -- expected).size + (expected -- stored).size
        out.check(diff == 0, s"reloaded store and the expected graph differ in $diff triples")
        n
      } catch {
        case e: Exception =>
          out.check(ok = false, s"store check: ${e.getClass.getSimpleName}: ${e.getMessage}")
          1L
      }
      ctx.note("store check done")
      val (bytes, files) = Ctx.dirStats(store)
      out.metric("graph.store_bytes_per_triple", bytes.toDouble / storedCount, "bytes")
      out.info("store_triples") = storedCount
      if (ctx.cfg.trace) {
        out.metric("graph.store_files", files.toDouble, "count")
        val writtenBytes = tr.spans.filter(s => s.op >= 0 &&
            (s.key == "graph.save_delta" || s.key == "graph.compact"))
          .map(s => tr.countersOf(s.id).outputBytes).sum
        out.metric("graph.bytes_written",
          writtenBytes.toDouble / math.max(1, pairs.size), "bytes")
      }
    }
  }
}
