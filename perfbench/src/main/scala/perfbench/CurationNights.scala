package perfbench

import graft.llm.{AnnOps, BloomHistory, NightlyCuration, SimGraphStore, TextIndex}
import graft.streaming.StreamingNightlyCuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import scala.collection.mutable

/** `curation_nights`: the store-backed nightly curation lifecycle. Setup
  * bootstraps the five stores (`NightlyCuration.initStores`) on the two
  * thirds of the documents the catalog uses as history; the seed splits
  * the held-out third into nights. One operation is one night: write the
  * night's slice as two parquet feed files, admit it through the
  * streamed path (`StreamingNightlyCuration.run`), fold it into every
  * store (`endOfNight`), run the maintenance slot with dials tight enough
  * that compactions trip, and serve from four stores. The admitted sets
  * and serve row counts go to run.py's oracle afterwards, which admits
  * each night's whole slice at once against the pre-night stores: the
  * streamed admission, two micro-batches a night, must give the same set. */
object CurationNights {

  val docsPerNight = 16
  /** Nights an untraced run measures at least. */
  val minNights = 1
  /** Index buckets of the shingle and text stores, sized to the corpus. */
  val nBuckets = 2
  private val terms = Seq("sort", "stream", "hash")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = ctx.out
    val tr = ctx.tracer
    val work = ctx.cfg.work
    val docs = graft.T.documents(spark, ctx.cfg.data)
    val emb = graft.T.embeddings(spark, ctx.cfg.data)
    val root = s"$work/stores"
    val stores = NightlyCuration.Stores(root)
    ctx.setup { _ =>
      Ctx.deleteRecursively(root)
      tr.span("llm", "init_stores")(NightlyCuration.initStores(spark, stores,
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0), "doc_id", "text",
        nBuckets = nBuckets))
    }

    val heldOut = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val nights = ctx.rng.shuffle(heldOut).grouped(docsPerNight)
      .filter(_.size == docsPerNight).toVector
    val feed = s"$work/feed"
    val queries = emb.filter(col("vec_id") < 10)
    def slice(ids: Seq[Long]): DataFrame =
      docs.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id").cast("long"), col("text"), col("lang"))

    /** Move a one-file parquet write of `df` to `feed/<name>.parquet`. */
    def stageFile(df: DataFrame, name: String): Unit = {
      val tmp = s"$work/feed-tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(feed).mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(feed, s"$name.parquet").toPath)
      Ctx.deleteRecursively(tmp)
    }

    /** What one run of a night gives. */
    final case class Night(secs: Double, foldSecs: Double, serveSecs: Double,
        admitted: Set[Long],
        actions: Seq[String], counts: Map[String, Long])

    /** Run night `nightId` over `ids` once. */
    def leg(nightId: Long, ids: Seq[Long]): Option[Night] = {
      tr.beginOp(nightId.toInt)
      val part = ids.sorted.splitAt(ids.size / 2)
      var secs = 0.0
      var foldSecs = 0.0
      var serveSecs = 0.0
      var actions = Seq.empty[String]
      var counts = Map.empty[String, Long]
      var staged = Set.empty[Long]
      val ok = try {
        secs += ctx.timed(tr.span("op", "night_admit") {
          tr.span("bench", "feed") {
            stageFile(slice(part._1), s"night${nightId}a")
            stageFile(slice(part._2), s"night${nightId}b")
          }
          tr.span("streaming", "stage")(StreamingNightlyCuration.run(spark,
            feed, stores, s"$work/checkpoint", maxFilesPerTrigger = 1))
        })._2
        // untimed: the streamed admitted set, which run.py compares with
        // an admission of the whole slice against the pre-night stores
        // (recorded from the untraced leg; the traced leg repeats its work,
        // see run)
        if (!tr.isActive)
          staged = StreamingNightlyCuration.stagedAdmitted(spark, stores)
            .select("doc_id").collect().map(_.getLong(0)).toSet
        secs += ctx.timed(tr.span("op", "night_fold") {
          foldSecs = ctx.timed {
            tr.span("llm", "fold")(StreamingNightlyCuration.endOfNight(spark,
              stores, emb, nightId))
            actions = tr.span("llm", "maintenance")(NightlyCuration.maintenance(
              spark, stores, maxShingleEpochs = 1, maxGraphDeltas = 1,
              maxDataFiles = 4))
          }._2
          serveSecs = ctx.timed {
            counts = Map(
              "bm25" -> tr.span("llm", "serve_bm25")(TextIndex.bm25FromIndex(
                spark, stores.text, terms, k1 = 1.2, b = 0.75, topK = 10)
                .collect().length.toLong),
              "ivf" -> tr.span("llm", "serve_ivf")(AnnOps.ivfTopKFromIndex(
                spark, stores.ivf, queries, k = 10, dim = 64, nProbe = 2)
                .collect().length.toLong),
              "bloom" -> tr.span("llm", "serve_bloom")(
                BloomHistory.dedupFromStore(spark, stores.bloom, slice(ids),
                  "doc_id", "text").collect().length.toLong),
              "simgraph" -> tr.span("llm", "serve_simgraph")(
                SimGraphStore.edges(spark, stores.graph).count()))
          }._2
        })._2
        true
      } catch {
        case e: Exception =>
          out.problems += s"night $nightId: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
      out.op(ok, s"night $nightId failed")
      ctx.note(f"night $nightId${if (tr.isActive) " (traced)" else ""}: " +
        f"$secs%.2f s (serve $serveSecs%.2f s), admitted ${staged.size}, " +
        s"maintenance ${actions.size} actions")
      ctx.release()
      if (ok) Some(Night(secs, foldSecs, serveSecs, staged, actions, counts))
      else None
    }

    val night = mutable.ArrayBuffer.empty[Double]
    val fold = mutable.ArrayBuffer.empty[Double]
    val serve = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    val record = mutable.ArrayBuffer.empty[Map[String, Any]]
    var offered = 0L
    var admittedTotal = 0L
    var actionsTraced = 0L
    var rewrittenTraced = 0L
    // a traced run warms up on its first night, then runs the next twice,
    // from the same state on disk; the traced leg goes first on odd seeds
    // (a second pair would take a traced run near the 180 s limit)
    ctx.loop(minRounds = if (ctx.cfg.trace) 2 else minNights) { r =>
      require(r < nights.size,
        s"ran out of nights: ${nights.size} nights of $docsPerNight documents")
      val ids = nights(r)
      val nightId = r + 1L
      val legs = if (ctx.cfg.trace && r > 0) ctx.pair(r - 1 + ctx.cfg.seed.toInt,
          Ctx.snapshot(Seq(root, s"$work/checkpoint", feed)))(leg(nightId, ids))
        else Seq(false -> leg(nightId, ids))
      val secs = legs.collect { case (t, Some(n)) => t -> n }.toMap
      secs.get(false).foreach { n =>
        night += n.secs
        fold += n.foldSecs
        serve += n.serveSecs
        offered += ids.size
        admittedTotal += n.admitted.size
        record += Map("night" -> nightId, "slice" -> ids.sorted,
          "admitted" -> n.admitted.toSeq.sorted, "serve_rows" -> n.counts,
          "maintenance" -> n.actions)
      }
      secs.get(true).foreach { n =>
        actionsTraced += n.actions.size
        rewrittenTraced += tr.spans.filter(s => s.op == nightId &&
            s.key == "llm.maintenance")
          .map(s => tr.countersOf(s.id).outputBytes).sum
      }
      if (secs.size == 2) {
        pairs += ((secs(true).secs, secs(false).secs))
        out.check(secs(true).counts == secs(false).counts &&
          secs(true).actions == secs(false).actions, s"night $nightId: the " +
          s"traced leg served ${secs(true).counts}, the untraced leg " +
          s"${secs(false).counts}")
      }
      secs.get(false).map(_.secs).getOrElse(0.0)
    }
    out.metric("op_p50_s", Ctx.median(night.toSeq), "s")
    out.metric("op_p90_s", Ctx.pct(night.toSeq, 0.9), "s")
    out.metric("ops_per_s", offered / night.sum, "1/s")
    out.metric("read_p50_s", Ctx.median(serve.toSeq), "s")
    out.metric("write_mean_s", fold.sum / fold.size, "s")
    out.info("names") = Map(
      "op_p50_s" -> "night_p50_s", "op_p90_s" -> "night_p90_s",
      "ops_per_s" -> "docs_per_s", "read_p50_s" -> "serve_p50_s",
      "write_mean_s" -> "fold_mean_s",
      "llm.store_bytes_per_doc" -> "store_bytes_per_doc")
    out.info("nights") = record.toSeq
    out.info("history_filter") = "doc_id % 3 != 0"

    val lakeDocs = docs.count() - heldOut.size + admittedTotal
    val storeStats = Layers.stores.map(s =>
      s -> Ctx.dirStats(s"$root/$s")).toMap ++
      Map("bloom" -> {
        // the Bloom store keeps its fingerprint sidecar beside its root
        val (b1, f1) = Ctx.dirStats(stores.bloom)
        val (b2, f2) = Ctx.dirStats(stores.bloom + "__fp")
        (b1 + b2, f1 + f2)
      })
    val storeBytes = storeStats.values.map(_._1).sum
    out.metric("llm.store_bytes_per_doc", storeBytes.toDouble / lakeDocs, "bytes")
    if (ctx.cfg.trace) {
      val tracedNights = math.max(1, pairs.size)
      out.metric("llm.admit_ratio", admittedTotal.toDouble / offered, "ratio")
      out.metric("llm.maintenance_actions", actionsTraced.toDouble / tracedNights,
        "count")
      out.metric("llm.rewritten_bytes", rewrittenTraced.toDouble / tracedNights,
        "bytes")
      val mb = tr.microBatches.toSeq
      out.metric("streaming.micro_batches", mb.size.toDouble / tracedNights, "count")
      out.metric("streaming.batch_duration_s",
        if (mb.isEmpty) 0.0 else Ctx.median(mb.map(_._1 / 1e3)), "s")
      out.metric("streaming.input_rows", mb.map(_._2).sum.toDouble / tracedNights,
        "count")
      storeStats.foreach { case (s, (bytes, files)) =>
        out.metric(s"llm.store_bytes.$s", bytes.toDouble, "bytes")
        out.metric(s"llm.store_files.$s", files.toDouble, "count")
      }
    }
    Layers.report(ctx, pairs.toSeq)
    out
  }
}
