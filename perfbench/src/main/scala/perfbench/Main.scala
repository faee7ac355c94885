package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark program: one workload, one JVM, a single-client closed
  * loop.
  *
  *   perfbench.Main --workload kg --seed 1 --seconds 10 --trace 0
  *     --data <tables dir> --work <scratch dir> --out <result.json>
  *
  * Each workload sets up (several times, reporting the median), warms up,
  * then runs whole rounds of seeded operations until `--seconds` of
  * operation time were measured, checking every operation's output. The
  * result file holds the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics of a traced run (`--trace 1`), plus the check
  * outcome; `run.py` adds the DuckDB oracle comparison and prints it. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      data = opts("data"),
      work = opts("work"),
      out = opts("out"))
    val spark = Session.create(cfg)
    val ctx = new Ctx(spark, cfg, new Tracer(spark, cfg.trace))
    val outcome =
      try cfg.workload match {
        case "kg" => Kg.run(ctx)
        case "curation_nights" => CurationNights.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally ctx.tracer.close()
    outcome.metric("peak_rss_mb", Ctx.peakRssMb, "MB")
    // what a traced run reports, for run.py's own test of the result
    if (cfg.trace)
      outcome.info("layer_metrics") =
        scala.collection.immutable.ListMap(Layers.all: _*)
    val w = new java.io.PrintWriter(cfg.out, "UTF-8")
    try w.println(outcome.toJson(cfg, spark)) finally w.close()
    spark.stop()
  }
}

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String)

/** JSON for the result and trace files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(value: Any): String = mapper.writeValueAsString(value)
}

/** The session of `graft.Bench` at four cores. Scratch directories stay
  * inside the benchmark's work directory. */
object Session {
  val cpus = 4

  def create(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What a workload run reports. */
final class Outcome {
  /** name → (value, unit), in report order. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one operation; a failed check counts it as failed. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 50) problems += what }
  }

  /** A check outside the timed region; a failure fails one operation. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    if (!ok) { failed += 1; if (problems.size < 50) problems += what }
  }

  def toJson(cfg: Config, spark: SparkSession): String = Json(Map(
    "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
    "attempted" -> attempted, "failed" -> failed, "problems" -> problems,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) },
    "info" -> (info ++ Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> Session.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.filter(kv =>
        kv._1.startsWith("spark.sql") || kv._1 == "spark.master"),
      "data" -> cfg.data))))
}

/** Per-run context: the session, the tracer and the seeded RNG. */
final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer) {
  val rng = new scala.util.Random(cfg.seed)
  val out = new Outcome

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()

  private var opIds = 0

  /** A fresh operation id (for the tracer's spans). */
  def newOpId(): Int = synchronized { opIds += 1; opIds - 1 }

  /** Progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench +${secsSince(born)}%.1fs] $msg")

  /** Time `body` in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secsSince(t0))
  }

  /** Run the setup step `Ctx.setups` times (a traced run: once, traced);
    * report the median as setup_s. The last run's state is the one the
    * workload continues with. */
  def setup[A](body: Int => A): A = {
    var last: Option[A] = None
    val secs = (0 until (if (cfg.trace) 1 else Ctx.setups)).map { i =>
      tracer.setActive(cfg.trace)
      val (a, s) = timed(body(i))
      tracer.setActive(false)
      last = Some(a)
      s
    }
    note(s"setup done: ${secs.map(x => f"$x%.2f").mkString(" ")} s")
    out.metric("setup_s", Ctx.median(secs), "s")
    out.info("setup_samples_s") = secs
    last.get
  }

  /** The closed loop: whole rounds until `cfg.seconds` of operation time
    * were measured, and at least `minRounds`. `round` returns the seconds
    * it measured. */
  def loop(minRounds: Int = 1)(round: Int => Double): Int = {
    var measured = 0.0
    var r = 0
    val perRound = mutable.ArrayBuffer.empty[Double]
    while (r < minRounds || measured < cfg.seconds) {
      perRound += round(r)
      measured += perRound.last
      r += 1
    }
    note(s"measured $r rounds")
    out.info("rounds") = r
    out.info("round_s") = perRound.toSeq
    out.info("measured_s") = measured
    r
  }

  /** Run operation `i` once; in a traced run, twice — untraced and traced,
    * the traced leg first when `i` is odd — so the pair prices the tracing
    * overhead on the same operation at the same point of the JVM's
    * warm-up. Both legs start alike: the listener bus is drained before
    * each, and `restore` (run between them) puts back whatever state the
    * first leg changed, so the second repeats the same work. Returns
    * (traced, result) per leg. */
  def pair[A](i: Int, restore: () => Unit = () => ())(body: => A)
      : Seq[(Boolean, A)] = {
    val modes = if (!cfg.trace) Seq(false)
      else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
    modes.zipWithIndex.map { case (t, leg) =>
      if (leg > 0) restore()
      tracer.settle()
      tracer.setActive(t)
      try t -> body finally tracer.setActive(false)
    }
  }

  /** Free the operation's locally checkpointed blocks (untimed), as
    * `graft.Bench` does between entries. */
  def release(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

object Ctx {
  /** Setups per run; setup_s is their median. */
  val setups = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes and data-file count under a directory. */
  def dirStats(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists) return (0L, 0L)
    var bytes = 0L
    var files = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else {
        bytes += f.length
        if (f.getName.endsWith(".parquet")) files += 1
      }
    walk(root)
    (bytes, files)
  }

  /** Move `dirs` aside as they are now; the returned function puts them
    * back, dropping whatever was written to them in between. */
  def snapshot(dirs: Seq[String]): () => Unit = {
    def snap(d: String) = new java.io.File(d + ".snapshot")
    dirs.foreach { d =>
      deleteRecursively(snap(d).getPath)
      if (new java.io.File(d).exists) copyDir(d, snap(d).getPath)
    }
    () => dirs.foreach { d =>
      deleteRecursively(d)
      if (snap(d).exists)
        java.nio.file.Files.move(snap(d).toPath, new java.io.File(d).toPath)
    }
  }

  def copyDir(from: String, to: String): Unit = {
    val src = new java.io.File(from).toPath
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val dst = new java.io.File(to).toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }
}
