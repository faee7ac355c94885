package perfbench

import graft.exec.SparqlExecutor
import graft.graph.TriplesGraph
import graft.parser.SparqlParser
import graft.sparql.{SparqlQueries, TpchGraph}
import org.apache.spark.sql.DataFrame

/** The read side of the `kg` workload, the paper's main use — SPARQL over
  * the knowledge graph joined with sensor time series: 28 operations, the
  * 22 SPARQL SELECT texts of the catalog (parse → translate → plan → noop
  * write), the two tag-path DSL queries and the four time-series alignment
  * entries. Every operation's output is written once per run, outside the
  * timed region, for the DuckDB oracle comparison. */
object KgQuery {

  private val prologue =
    s"""PREFIX g:<${TpchGraph.ns}>
       |PREFIX otit_swt:<${graft.rdf.Otit.ns}>
       |PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
       |PREFIX rdf:<http://www.w3.org/1999/02/22-rdf-syntax-ns#>
       |""".stripMargin

  /** The catalog's two DSL entries: (name, DSL text, post-processing). */
  private val dslQueries: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("q131_dsl_query",
      """[sensor] > 50.5
        |from 2024-01-05T00:00:00+00:00
        |to 2024-01-25T00:00:00+00:00
        |group sensor
        |aggregate max 10min""".stripMargin, identity),
    ("q133_dsl_optional_like",
      """[sensor]
        |[sensor] like "^7" ?
        |from 2024-01-05T00:00:00+00:00
        |to 2024-01-25T00:00:00+00:00""".stripMargin,
      df => df.withColumn("tus",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("timestamp")))
        .drop("timestamp")))

  private val relationalNames =
    Seq("q79_asof_join", "q81_resample_interpolate", "q85_asof_forward",
      "q87_resample_locf")

  /** One operation: its catalog name, kind, and how to run it against the
    * graph into a sink. Returns (total seconds, execute seconds). */
  final case class Op(name: String, kind: String,
      run: (Ctx, TriplesGraph, DataFrame => Unit) => (Double, Double))

  def ops(dataDir: String): Seq[Op] = {
    val texts = SparqlQueries.sparqlTexts
    val sparql = texts.keys.toSeq.sorted.map { name =>
      Op(name, "sparql", (ctx, g, sink) => {
        val tr = ctx.tracer
        val t0 = System.nanoTime()
        val q = tr.span("parser", "parse")(
          SparqlParser.parse(prologue + texts(name)))
        val df = tr.span("exec", "translate")(
          new SparqlExecutor(g).execute(q))
        tr.span("spark", "plan")(df.queryExecution.executedPlan)
        val t1 = System.nanoTime()
        tr.span("spark", "execute")(sink(df))
        val t2 = System.nanoTime()
        ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
      })
    }
    val dsl = dslQueries.map { case (name, text, post) =>
      Op(name, "dsl", (ctx, g, sink) => {
        val tr = ctx.tracer
        val t0 = System.nanoTime()
        val algebra = tr.span("dsl", "translate") {
          val cfg = graft.dsl.Dsl.TranslatorConfig(
            connectiveMapping = Map("-" -> TpchGraph.locatedIn),
            namePredicate = TpchGraph.name,
            typeNamePredicate = TpchGraph.name)
          new graft.dsl.Dsl.Translator(cfg).translate(graft.dsl.Dsl.parse(text))
        }
        val df = tr.span("exec", "translate")(
          post(new SparqlExecutor(g).execute(algebra)))
        tr.span("spark", "plan")(df.queryExecution.executedPlan)
        val t1 = System.nanoTime()
        tr.span("spark", "execute")(sink(df))
        val t2 = System.nanoTime()
        ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
      })
    }
    val catalog = graft.relational.RelationalQueries.all
    val relational = relationalNames.map { name =>
      val q = catalog.find(_.name == name).get
      Op(name, "relational", (ctx, _, sink) => {
        val tr = ctx.tracer
        val t0 = System.nanoTime()
        val df = tr.span("relational", "build")(q.fn(ctx.spark, dataDir))
        tr.span("spark", "plan")(df.queryExecution.executedPlan)
        val t1 = System.nanoTime()
        tr.span("relational", "execute")(sink(df))
        val t2 = System.nanoTime()
        ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
      })
    }
    sparql ++ dsl ++ relational
  }

  /** The reads a round measures: every other SPARQL text (in name order),
    * the DSL queries and the time-series entries. All 28 are checked, and
    * warmed, every run; measuring half the SPARQL texts keeps a run within
    * the benchmark's time budget. */
  def measured(all: Seq[Op]): Seq[Op] = {
    val (sparql, rest) = all.partition(_.kind == "sparql")
    sparql.zipWithIndex.collect { case (op, i) if i % 2 == 0 => op } ++ rest
  }

  /** Catalog oracle SQL of every operation. */
  def oracleSql(names: Seq[String]): Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    names.map(n => n -> all(n)).toMap
  }

  /** Driver threads of the warm-up and check pass. */
  val checkThreads = 14

  val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()

  /** Warm-up and output check: every operation once, written as parquet
    * under `dir` for the oracle comparison (outside the timed region),
    * with each of `beside` running on a thread of its own meanwhile. The pass
    * runs on a few driver threads: it is dominated by first-run JIT and
    * code generation, which concurrent work overlaps. Returns the
    * failures. */
  def checkPass(ctx: Ctx, g: TriplesGraph, all: Seq[Op], dir: String,
      beside: Seq[() => Unit]): Seq[String] = {
    val spark = ctx.spark
    // the oracle compares instants: write timestamps as UTC micros (the
    // encoding graft.Verify uses), not the INT96 default
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val reads = all.grouped((all.size + checkThreads - 1) / checkThreads).toSeq
      .map { group => () =>
        group.flatMap { op =>
          try {
            op.run(ctx, g, _.write.mode("overwrite").parquet(s"$dir/${op.name}"))
            None
          } catch {
            case e: Exception =>
              Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }
    val failures = graft.sources.ParJobs.map(
      reads ++ beside.map(b => () => { b(); Seq.empty[String] })).flatten
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val w = new java.io.PrintWriter(s"$dir/oracle_sql.json", "UTF-8")
    try w.println(Json(oracleSql(all.map(_.name)))) finally w.close()
    failures
  }

  /** Run `op` once as a measured operation (a traced run: as a pair, `i`
    * ordering it). Returns (traced, (total, execute) seconds or the
    * failure) per leg. */
  def measure(ctx: Ctx, g: TriplesGraph, op: Op, i: Int)
      : Seq[(Boolean, Either[Exception, (Double, Double)])] = {
    val opId = ctx.newOpId()
    ctx.pair(i) {
      ctx.tracer.beginOp(opId)
      val r = try Right(ctx.tracer.span("op", op.kind)(op.run(ctx, g, noop)))
        catch { case e: Exception => Left(e) }
      ctx.release()
      r
    }
  }
}
