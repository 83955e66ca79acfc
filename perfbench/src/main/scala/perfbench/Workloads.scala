package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.operators.Dedup
import graft.pipelines.CurationJob
import graft.sources.Tables
import graft.streaming.CurationStream

/** The traffic dimensions `gen.py` recorded next to the inputs. */
object Dims {
  def apply(input: String): Map[String, Any] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .readValue(new java.io.File(s"$input/dims.json"), classOf[Map[String, Any]])
}

/** Records are JSON-shaped maps; this reads a number field of one. */
object Rec {
  def num(r: Map[String, Any], k: String): Double =
    r(k).asInstanceOf[Number].doubleValue
}

object Checks {
  def apply(name: String, ok: Boolean, detail: Any): Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
}

/** The reference's API, monitoring and report queries, one closed-loop
  * client: build each query's DataFrame and collect its rows, as an API
  * caller receives them, cycling through the mix in registry order. */
final class ApiQueries extends Workload {
  private val mix = Seq("q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08",
    "q09", "q10", "q11", "q12", "q13", "q14", "q36")
  private val queries = SparkEntry.registry
    .filter(q => mix.contains(q.name.takeWhile(_ != '_')))

  def prepare(spark: SparkSession, input: String, work: String): Unit = {
    Tables.events(spark, input)
    Tables.customer(spark, input)
  }

  def warmUp(spark: SparkSession, input: String, work: String): Unit =
    queries.foreach(q => q.spark(spark, s"$input/warm").collect())

  /** A result as the oracle check reads it: column names and rows, with
    * decimals tagged so they stay distinguishable from doubles. */
  private def result(df: DataFrame, rows: Array[org.apache.spark.sql.Row]): Map[String, Any] =
    Map("columns" -> df.columns.toSeq, "rows" -> rows.toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => Map("decimal" -> d.toPlainString)
      case d: Double if d.isNaN || d.isInfinite => Map("double" -> d.toString)
      case v @ (null | _: Long | _: Int | _: Double | _: String) => v
      case other => Map("other" -> other.toString)
    }))

  private def run(ctx: Ctx, q: graft.queries.QueryDef,
                  keep: Boolean = false): Map[String, Any] =
    ctx.tracer.op("query") {
      val t0 = ctx.clock.now
      try {
        val df = ctx.tracer.span("QueryDef.spark")(q.spark(ctx.spark, ctx.input))
        val t1 = ctx.clock.now
        val rows = ctx.tracer.span("collect")(df.collect())
        val t2 = ctx.clock.now
        Map("name" -> q.name, "start" -> t0, "build_s" -> (t1 - t0),
          "end" -> t2, "ok" -> true, "rows" -> rows.length) ++
          (if (keep) Map("result" -> result(df, rows)) else Map.empty)
      } catch {
        case e: Exception =>
          Map("name" -> q.name, "start" -> t0, "end" -> ctx.clock.now,
            "ok" -> false, "error" -> e.toString)
      }
    }

  def measure(ctx: Ctx, seconds: Double): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    // whole passes, so every query weighs the same in the figures, and at
    // least two, so the median has ten samples beyond it
    while (ops.size < 2 * queries.size || ctx.clock.now < seconds)
      queries.foreach(q => ops += run(ctx, q, keep = ops.size < queries.size))
    // the first pass's rows, as the caller received them, go to the check
    val results = ops.flatMap(o => o.get("result").map(o("name") -> _)).toMap
    Map("ops" -> ops.map(_ - "result").toList, "wall_s" -> ctx.clock.now,
      "results" -> results,
      "oracle" -> queries.map(q => q.name -> q.oracle.getOrElse("")).toMap)
  }

  def unit(ctx: Ctx): Double = {
    val t0 = ctx.clock.now
    queries.foreach(q => run(ctx, q))
    ctx.clock.now - t0
  }

  /** `run.py` grades the first pass's rows against the DuckDB oracle;
    * here, the row count of every timed collect must not vary. */
  def check(spark: SparkSession, input: String, work: String,
            phase: Map[String, Any]): Seq[Map[String, Any]] = {
    val ops = phase("ops").asInstanceOf[Seq[Map[String, Any]]].filter(_("ok") == true)
    val unstable = ops.groupBy(_("name")).filter(_._2.map(_("rows")).distinct.size > 1).keys
    Seq(Checks("api_queries.rows_stable", unstable.isEmpty, unstable.mkString(",")))
  }
}

/** Open-loop machinery: one load-generator thread feeds chunks on a fixed
  * schedule, regardless of how fast the program drains them. */
object OpenLoop {
  /** Feed chunk k at due time k × interval from now, for `seconds`;
    * returns one record per chunk (index, due time, creation stamp, rows). */
  def feed(clock: Clock, seconds: Double, interval: Double,
           add: Int => Int): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val base = clock.now
    var k = 0
    while (k * interval < seconds) {
      val due = base + k * interval
      val wait = due - clock.now
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      val created = clock.now
      val rows = add(k)
      out += Map("idx" -> k, "due" -> due, "created" -> created, "rows" -> rows)
      k += 1
    }
    out.toList
  }

  def progress(q: StreamingQuery, clock: Clock): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map(p => Tracer.progressRecord(p, clock))
}

/** Continuous-ingest curation: document micro-batches fed at a fixed rate
  * into `CurationStream.start` over a managed near-dup store bootstrapped
  * from the standing corpus; one live `Dedup.compactManagedStore`, started
  * when the first micro-batch commits; then the stream works off what is
  * left. Every micro-batch runs the pipeline step
  * `CurationJob.incrementalStep`, which probes the store and appends to it. */
final class CurationStreamLoad extends Workload {
  // stores bootstrapped in set-up and not used yet; each set-up leaves one
  private var spare: List[String] = Nil
  private var docs: Array[(Long, String)] = Array.empty

  private def corpus(spark: SparkSession, dir: String) = Tables.documents(spark, dir)

  /** A managed store at `root`, bootstrapped from the standing corpus. */
  private def bootstrap(spark: SparkSession, input: String, root: String): Unit = {
    val d = Dims(input)
    val cut = Rec.num(d, "bench_cut")
    val standing = corpus(spark, input).filter(col("doc_id") >= cut &&
      col("doc_id") < cut + Rec.num(d, "standing"))
    Dedup.initManagedNearDupIndexStore(spark, root,
      Dedup.nearDupIndex(standing, "doc_id", "text", n = 3),
      bands = Rec.num(d, "bands").toInt,
      bandBuckets = Rec.num(d, "band_buckets").toInt,
      idBuckets = Rec.num(d, "id_buckets").toInt)
  }

  private def streamDocs(spark: SparkSession, input: String): Array[(Long, String)] = {
    import spark.implicits._
    val d = Dims(input)
    corpus(spark, input)
      .filter(col("doc_id") >= Rec.num(d, "bench_cut") + Rec.num(d, "standing"))
      .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].collect()
  }

  def prepare(spark: SparkSession, input: String, work: String): Unit = {
    docs = streamDocs(spark, input)
    bootstrap(spark, input, s"$work/store")
    spare = s"$work/store" :: spare
  }

  /** One micro-batch of the warm corpus into a warm store. */
  def warmUp(spark: SparkSession, input: String, work: String): Unit = {
    bootstrap(spark, s"$input/warm", s"$work/warm_store")
    val warm = streamDocs(spark, s"$input/warm")
    val (in, q) = start(spark, s"$input/warm", s"$work/warm_store", s"$work/warm_out")
    try { in.addData(warm.toSeq); q.processAllAvailable() } finally q.stop()
    Main.deleteTree(s"$work/warm_store")
    Main.deleteTree(s"$work/warm_out")
  }

  private def start(spark: SparkSession, input: String, root: String,
                    out: String): (MemoryStream[(Long, String)], StreamingQuery) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val bench = corpus(spark, input)
      .filter(col("doc_id") < Rec.num(Dims(input), "bench_cut"))
    (in, CurationStream.start(in.toDF().toDF("doc_id", "text"), root, bench,
      out, s"$out/_checkpoint", trigger = Trigger.ProcessingTime(0L)))
  }

  /** A freshly bootstrapped store: a spare one from set-up, else a new
    * one under `work`. */
  private def freshStore(spark: SparkSession, input: String, work: String): String =
    spare match {
      case r :: rest => spare = rest; r
      case Nil =>
        bootstrap(spark, input, s"$work/store")
        s"$work/store"
    }

  private def filesUnder(root: String): Seq[java.io.File] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      val b = mutable.ArrayBuffer.empty[java.io.File]
      walk.filter(java.nio.file.Files.isRegularFile(_)).forEach(p => b += p.toFile)
      b.toList
    } finally walk.close()
  }

  def measure(ctx: Ctx, seconds: Double): Map[String, Any] = {
    val d = Dims(ctx.input)
    val chunk = Rec.num(d, "chunk_docs").toInt
    val root = freshStore(ctx.spark, ctx.input, ctx.work)
    val startMs = System.currentTimeMillis()
    val out = s"${ctx.work}/stream_out"
    val (in, q) = start(ctx.spark, ctx.input, root, out)
    var compaction: Map[String, Any] = Map.empty
    var retired = ""
    // the keep set is every generated doc id: the compaction rewrites the
    // store without dropping anything, so however it interleaves with the
    // micro-batches, the decisions stay those of the batch replay. It
    // starts as the first micro-batch commits, so it builds beside the
    // next one and takes the store lock only after that one releases it;
    // a fixed wall-clock start would race the batches for the lock.
    val compactor = new Thread(() => {
      while (q.isActive && !q.recentProgress.exists(_.numInputRows > 0))
        Thread.sleep(5)
      if (q.isActive) ctx.tracer.op("compaction") {
        val t0 = ctx.clock.now
        retired = ctx.tracer.span("Dedup.compactManagedStore")(
          Dedup.compactManagedStore(ctx.spark, root,
            corpus(ctx.spark, ctx.input).select("doc_id")))
        val green = Dedup.resolveStoreDir(ctx.spark, root)
        compaction = Map("start" -> t0, "end" -> ctx.clock.now,
          "green_bytes" -> filesUnder(green).map(_.length).sum)
      }
    })
    var offered = 0
    val chunks = try {
      compactor.start()
      val fed = OpenLoop.feed(ctx.clock, seconds, Rec.num(d, "interval_s"),
        k => {
          val rows = docs.slice(k * chunk, (k + 1) * chunk)
          require(rows.length == chunk, "stream corpus exhausted")
          in.addData(rows.toSeq)
          offered += rows.length
          rows.length
        })
      compactor.join()
      q.processAllAvailable()
      fed
    } catch { case e: Throwable => q.stop(); throw e }
    q.stop()
    val progress = OpenLoop.progress(q, ctx.clock)
    val written = filesUnder(root).filter(_.lastModified >= startMs).map(_.length).sum
    if (retired.nonEmpty) Main.deleteTree(retired)
    val files = filesUnder(root)
    val decisions = ctx.spark.read.parquet(s"$out/decisions")
    Map("chunks" -> chunks, "progress" -> progress,
      "wall_s" -> ctx.clock.now, "compaction" -> compaction,
      "store" -> Map("root" -> root, "bytes" -> files.map(_.length).sum,
        "files" -> files.size,
        "append_bytes" -> (written - Rec.num(compaction, "green_bytes")),
        "standing" -> Rec.num(d, "standing"),
        "admitted" -> decisions.filter(col("curated") === 1L).count(),
        "probed" -> decisions.filter(col("keep") === 1L).count(),
        "new" -> decisions.filter(col("keep") === 1L && col("status") === "new").count()),
      "fed_docs" -> offered, "decisions_dir" -> s"$out/decisions")
  }

  def unit(ctx: Ctx): Double = {
    val n = Rec.num(Dims(ctx.input), "unit_docs").toInt
    val (in, q) = start(ctx.spark, ctx.input,
      freshStore(ctx.spark, ctx.input, ctx.work), s"${ctx.work}/unit_out")
    try {
      val t0 = ctx.clock.now
      in.addData(docs.take(n).toSeq)
      q.processAllAvailable()
      ctx.clock.now - t0
    } finally q.stop()
  }

  /** Each fed doc has exactly one decision; the store admitted exactly the
    * keep ∧ new docs; and the decisions equal `CurationJob.incrementalStep`
    * run as a batch over the same micro-batch sequence on a fresh store. */
  def check(spark: SparkSession, input: String, work: String,
            phase: Map[String, Any]): Seq[Map[String, Any]] = {
    import spark.implicits._
    val fedIds = docs.take(Rec.num(phase, "fed_docs").toInt).map(_._1).toSet
    val cols = Seq("doc_id", "keep", "reasons", "status", "dup_of", "curated")
    val streamed = spark.read.parquet(phase("decisions_dir").toString)
      .select((cols :+ "batch_id").map(col): _*).localCheckpoint()
    val ids = streamed.select("doc_id").as[Long].collect()
    val root = phase("store").asInstanceOf[Map[String, Any]]("root").toString
    val cut = Rec.num(Dims(input), "bench_cut")
    val standing = Rec.num(Dims(input), "standing")
    val stored = spark.read.parquet(s"${Dedup.resolveStoreDir(spark, root)}/payload")
      .select("id").as[Long].collect().filter(_ >= cut + standing).toSet
    val admitted = streamed.filter(col("keep") === 1L && col("status") === "new")
      .select("doc_id").as[Long].collect().toSet
    // the batch replay on a fresh store
    val fresh = freshStore(spark, input, s"$work/replay")
    val bench = corpus(spark, input).filter(col("doc_id") < cut)
    val texts = corpus(spark, input).select("doc_id", "text")
    val batches = streamed.select("batch_id").distinct().as[Long].collect().sorted
    val mismatched = batches.filter { b =>
      val mine = streamed.filter(col("batch_id") === b).select(cols.map(col): _*)
      val batchDocs = texts.join(mine.select("doc_id"), "doc_id")
      val replay = CurationJob.incrementalStep(spark, fresh, batchDocs, bench,
        idempotent = true).select(cols.map(col): _*).localCheckpoint()
      replay.exceptAll(mine).count() + mine.exceptAll(replay).count() > 0
    }
    Seq(
      Checks("curation_stream.one_decision_per_doc",
        ids.length == fedIds.size && ids.toSet == fedIds,
        s"decisions=${ids.length} fed=${fedIds.size}"),
      Checks("curation_stream.admitted_is_keep_and_new", stored == admitted,
        s"stored=${stored.size} keep_and_new=${admitted.size}"),
      Checks("curation_stream.matches_batch_replay", mismatched.isEmpty,
        s"batches=${batches.length} mismatched=${mismatched.mkString(",")}"))
  }
}
