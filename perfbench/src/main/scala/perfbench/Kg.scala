package perfbench

import graft.sparql.TpchGraph

import scala.collection.mutable

/** `kg`: the paper's main use — SPARQL over the knowledge graph joined
  * with sensor time series — with writes to the persisted graph store
  * beside the reads. A warm-up pass runs every read once, writing its
  * output for the DuckDB oracle comparison, while one write of each kind
  * runs beside it on a store of its own. Setup then builds
  * `TpchGraph.graph` and saves it as a store. Each round then runs, in a
  * seeded order, the 17 measured reads of `KgQuery` on the in-memory
  * graph and one write of each kind of `KgUpdate` on the store (each
  * committed, reloaded and read back), and ends with a compaction of the
  * store. */
object Kg {

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = ctx.out
    val tr = ctx.tracer
    val data = ctx.cfg.data
    val store = s"${ctx.cfg.work}/graph_store"
    val reads = KgQuery.ops(data)
    val timed = KgQuery.measured(reads)
    out.info("operations") = timed.size + KgUpdate.kinds.size
    out.info("measured_reads") = timed.map(_.name)

    // warm-up and output check, before the timed setups: every read once
    // on a graph of its own, and beside the reads a save of that graph and
    // one write of each kind, each on a copy of the saved store — so that
    // the setups and the measured operations all run warm, and the JVM's
    // first-run costs of reads and writes overlap
    val cold = TpchGraph.graph(spark, data)
    val warmStore = s"$store-warm"
    val warmWrites = () => {
      cold.save(warmStore, nBuckets = KgUpdate.subjectBuckets)
      graft.sources.ParJobs.map(KgUpdate.kinds.zipWithIndex.map { case (kind, k) =>
        () => {
          val copy = s"$warmStore$k"
          Ctx.copyDir(warmStore, copy)
          new KgUpdate.Writer(ctx, cold, copy,
            new scala.util.Random(ctx.cfg.seed * 31 + k)).warmUp(kind)
          Ctx.deleteRecursively(copy)
        }
      })
      Ctx.deleteRecursively(warmStore)
    }
    KgQuery.checkPass(ctx, cold, reads, s"${ctx.cfg.work}/check", Seq(warmWrites))
      .foreach(f => out.check(ok = false, s"check pass: $f"))
    ctx.release()
    ctx.note("warm-up and check pass done")
    val g = ctx.setup { _ =>
      Ctx.deleteRecursively(store)
      val built = tr.span("graph", "build")(TpchGraph.graph(spark, data))
      tr.span("graph", "save")(built.save(store, nBuckets = KgUpdate.subjectBuckets))
      built
    }
    val writer = new KgUpdate.Writer(ctx, g, store, ctx.rng)

    // measured rounds: a seeded permutation of the measured reads and the
    // writes
    val lat = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    var i = 0
    ctx.loop() { _ =>
      val t0 = System.nanoTime()
      ctx.rng.shuffle(timed.map(Left(_)) ++ KgUpdate.kinds.map(Right(_))).foreach {
        case Left(op) =>
          val legs = KgQuery.measure(ctx, g, op, i)
          legs.foreach {
            case (t, Right((total, ex))) =>
              out.op(ok = true, "")
              if (!t) {
                lat += total
                exec += ex
              }
            case (_, Left(e)) =>
              out.op(ok = false, s"${op.name}: ${e.getMessage}")
          }
          val secs = legs.collect { case (t, Right((total, _))) => t -> total }.toMap
          if (secs.size == 2) pairs += ((secs(true), secs(false)))
        case Right(kind) =>
          writer.write(kind, i)
      }
      i += 1
      writer.compactRound()
      ctx.secsSince(t0)
    }
    out.metric("op_p50_s", Ctx.median(lat.toSeq), "s")
    out.metric("op_p90_s", Ctx.pct(lat.toSeq, 0.9), "s")
    out.metric("ops_per_s", lat.size / lat.sum, "1/s")
    out.metric("execute_p50_s", Ctx.median(exec.toSeq), "s")
    writer.finish()
    out.info("names") = Map(
      "op_p50_s" -> "query_p50_s", "op_p90_s" -> "query_p90_s",
      "ops_per_s" -> "queries_per_s", "read_p50_s" -> "read_after_write_p50_s",
      "write_mean_s" -> "update_mean_s", "write_p50_s" -> "update_p50_s",
      "write_p90_s" -> "update_p90_s",
      "graph.store_bytes_per_triple" -> "graph_store_bytes_per_triple")
    Layers.report(ctx, pairs.toSeq ++ writer.pairs)
    out
  }
}
