package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A check on an engine output failed: the call counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    tiny: Boolean, outDir: java.nio.file.Path)

/** State shared by one run of one workload: the tracer, the operation
  * and failure counts, and the metrics it reports. */
final class Run(val args: Args) {
  val runId = s"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}-${System.currentTimeMillis()}"
  val tracer = new Tracer(args.trace, runId)
  val cpus: Int = Runtime.getRuntime.availableProcessors
  var attempted = 0L
  var failed = 0L
  /** Every metric the workload measured, in print order: name -> (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of the traced run. */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var spark: SparkSession = _

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** One attempted operation. An exception or a failed output check marks
    * it failed, loudly, and the run goes on with the next operation. */
  def op(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: CheckFailed =>
        failed += 1
        System.err.println(s"[perfbench] CHECK FAILED in $what: ${e.getMessage}")
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] OPERATION FAILED in $what: $e")
        e.printStackTrace()
    }
  }

  /** Full GC before a timed repetition, so the garbage one repetition
    * leaves is not charged to the next (the repetition's own garbage is). */
  def settle(): Unit = System.gc()

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Set up `reps` times, each from a fresh session: session start, input
    * generation, inputs cached and counted. The last set-up stays; the
    * median wall is `setup_s`. */
  def setup[T](reps: Int)(inputs: SparkSession => T): (SparkSession, T) = {
    var last: Option[T] = None
    val walls = mutable.ArrayBuffer.empty[Double]
    val starts = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until reps) {
      stopSession()
      val t0 = System.nanoTime()
      val (s, startS) = time(tracer.span("session.start")(graft.GraftSession.local(cpus)))
      spark = s
      tracer.attach(spark)
      last = Some(tracer.span("setup.inputs")(inputs(spark)))
      walls += (System.nanoTime() - t0) / 1e9
      starts += startS
    }
    metric("setup_s", Stats.median(walls.toSeq), "s")
    layer("session.start_s", Stats.median(starts.toSeq), "s")
    (spark, last.get)
  }

  def stopSession(): Unit = if (spark != null) {
    tracer.detach()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }
}

/** Runs one workload and prints its metrics, one `metric` line each,
  * then one JSON line with the gated end-to-end or per-layer set. */
object Main {
  /** The end-to-end metrics every workload reports under one name,
    * each mapped from the workload's own metric (see README.md). */
  val Shared: Map[String, Map[String, String]] = Map(
    "point-search" -> Map("serve_p50_ms" -> "point_p50_ms", "throughput_per_s" -> "batch_qps"),
    "bulk-knn" -> Map("serve_p50_ms" -> "bucket_join_p50_ms", "throughput_per_s" -> "selfjoin_vps"),
    "store-churn" -> Map("serve_p50_ms" -> "serve_p50_ms", "throughput_per_s" -> "upsert_docs_per_s"))
  val EndToEnd = Seq("setup_s", "build_s", "serve_p50_ms", "throughput_per_s", "recall_at_10", "index_mb")
  val SharedUnits = Map("serve_p50_ms" -> "ms", "throughput_per_s" -> "1/s")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      kv.get("size").contains("tiny"), java.nio.file.Paths.get(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = new Run(args)
    val body: Run => Unit = args.workload match {
      case "point-search" => PointSearch.run
      case "bulk-knn" => BulkKnn.run
      case "store-churn" => StoreChurn.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try body(run)
    catch {
      case e: Exception =>
        // a failure outside any single operation voids the whole run
        run.attempted += 1; run.failed += 1
        System.err.println(s"[perfbench] RUN FAILED: $e"); e.printStackTrace()
    }
    if (args.trace) {
      val spans = run.tracer.all
      run.tracer.writeJsonl(args.outDir.resolve("traces").resolve(run.runId + ".jsonl"))
      Layers.fromSpans(run, spans)
    }
    run.stopSession()
    run.metric("failed_frac", run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    Shared(args.workload).foreach { case (shared, own) =>
      run.metrics.get(own).foreach { case (v, _) => run.metric(shared, v, SharedUnits(shared)) }
    }
    for ((k, (v, u)) <- run.metrics) println(s"metric $k ${Json.num(v)} $u")
    for ((k, (v, u)) <- run.layers) println(s"layer $k ${Json.num(v)} $u")
    val chosen: Seq[(String, (Double, String))] =
      if (args.trace) Layers.Gated.flatMap { case (k, _) => run.layers.get(k).map(k -> _) }
      else EndToEnd.flatMap(k => run.metrics.get(k).map(k -> _))
    val complete = chosen.size == (if (args.trace) Layers.Gated.size else EndToEnd.size)
    val correct = run.failed == 0 && complete
    val m = chosen.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":$correct,"attempted":${math.max(1L, run.attempted)},"failed":${run.failed},""" +
      s""""metrics":{${m.mkString(",")}}}""")
  }
}
