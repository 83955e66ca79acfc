package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload's measured phase sees. */
final case class Ctx(spark: SparkSession, input: String, work: String,
                     tracer: Tracer) {
  def clock: Clock = tracer.clock
}

/** One benchmark workload, driven only through the engine's public entry
  * points. Records are plain maps, written as JSON for `run.py`. */
trait Workload {
  /** Set-up on a fresh session: load inputs, bootstrap stores. */
  def prepare(spark: SparkSession, input: String, work: String): Unit

  /** One pass of the workload's operations over the small warm inputs,
    * so JIT and Spark's code caches are filled before timing. */
  def warmUp(spark: SparkSession, input: String, work: String): Unit

  /** The measured phase: run for `seconds` and return the raw record. */
  def measure(ctx: Ctx, seconds: Double): Map[String, Any]

  /** A fixed unit of work on a freshly set-up session, in seconds of wall
    * time; timed at local[1] and local[n] for `jobs.core_scaling`. */
  def unit(ctx: Ctx): Double

  /** Untimed output checks over a measured phase's record. */
  def check(spark: SparkSession, input: String, work: String,
            phase: Map[String, Any]): Seq[Map[String, Any]]
}

/** The benchmark's JVM driver: set-up (session start and `prepare`,
  * repeated, each timed; then one timed warm-up), the untraced measured
  * phase (with `--trace 1`: a traced phase first, then the untraced one),
  * the output checks, and with `--trace 1` the local[1] / local[n]
  * core-scaling passes. Writes `result.json` in `--work`.
  *
  *   Main --workload NAME --input DIR --work DIR --seconds S --trace 0|1
  *        --cpus N --setups K
  */
object Main {
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // harness settings: keep every file under the work directory and
      // every micro-batch's progress for the latency mapping
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String): Workload = name match {
    case "api_queries" => new ApiQueries
    case "curation_stream" => new CurationStreamLoad
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }


  def main(args: Array[String]): Unit = {
    val jvmStartS =
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (input, work) = (opt("input"), opt("work"))
    val cpus = opt("cpus").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val w = workload(opt("workload"))

    var spark: SparkSession = null
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    val prepareS = (1 to opt("setups").toInt).map { i =>
      timed {
        if (spark != null) spark.stop()
        spark = session(cpus, work)
        w.prepare(spark, input, s"$work/setup$i")
      }
    }
    val warmUpS = timed(w.warmUp(spark, input, s"$work/warmup"))
    def phase(name: String, trace: Boolean, s: Double): Map[String, Any] = {
      val tracer = new Tracer(spark, new Clock, trace)
      val rec = w.measure(Ctx(spark, input, s"$work/$name", tracer), s)
      rec + ("trace" -> tracer.finish())
    }
    // a traced run compares its traced phase with the untraced phase that
    // follows it: any JIT warming left favours the untraced phase, so it
    // cannot hide the tracer's cost
    val tracedPhase = if (traced) Some(phase("traced", trace = true, seconds)) else None
    val untraced = phase("untraced", trace = false, seconds)
    // what the program still holds once the measured work is done: the
    // heap after a full collection (the peak in between follows the
    // collector's timing more than the program). The second collection
    // takes what Spark's cleaner released after the first.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val checks = w.check(spark, input, s"$work/untraced", untraced)
    val scaling = if (!traced) Map.empty[String, Any] else {
      def unitAt(n: Int): Double = {
        spark.stop()
        spark = session(n, work)
        w.prepare(spark, input, s"$work/unit$n")
        w.unit(Ctx(spark, input, s"$work/unit$n", new Tracer(spark, new Clock, false)))
      }
      Map("local1_s" -> unitAt(1), "localn_s" -> unitAt(cpus))
    }
    spark.stop()
    val result = Map(
      "workload" -> opt("workload"), "cpus" -> cpus,
      "jvm_start_s" -> jvmStartS, "prepare_s" -> prepareS,
      "warm_up_s" -> warmUpS,
      "untraced" -> untraced, "traced" -> tracedPhase.orNull,
      "core_scaling" -> scaling, "checks" -> checks,
      "heap_live_mb" -> heapLiveMb)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(s"$work/result.json"), mapper.writeValueAsBytes(result))
  }
}
