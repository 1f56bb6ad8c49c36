package perfbench

/** Per-layer metrics of the traced run, derived from its spans. */
object Layers {
  /** The per-layer metrics every traced run reports (BENCHMARK.json's
    * `per_layer`). A layer the workload never calls reads 0: all of these
    * are counts, bytes or ratios, or times of layers every workload calls. */
  val Gated: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_failures" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.driver_gap_s" -> "s",
    "catalyst.plan_s" -> "s", "jvm.gc_s" -> "s",
    "plans.topk_exec_nodes" -> "count",
    "ann.forest.planes" -> "count", "ann.forest.index_bytes" -> "bytes",
    "ann.bucket.pairs_scored" -> "count", "ann.bucket.useful_ratio" -> "ratio",
    "ann.bucket.max_rows" -> "count",
    "ann.dforest.planes" -> "count", "ann.dforest.bucket_rows" -> "count",
    "ann.dforest.max_bucket_rows" -> "count",
    "streaming.admitted_ratio" -> "ratio",
    "sinks.bytes_written" -> "bytes", "sinks.write_amp" -> "ratio")

  /** Layer calls timed per span name: (span, metric, scale, unit); the
    * metric is the median over the run's calls. */
  private val Timed: Seq[(String, String, Double, String)] = Seq(
    ("ann.forest.fit", "ann.forest.fit_s", 1.0, "s"),
    ("ann.forest.compact", "ann.forest.compact_s", 1.0, "s"),
    ("ann.forest.route", "ann.forest.route_us", 1e6, "us"),
    ("ann.forest.search", "ann.forest.search_us", 1e6, "us"),
    ("ann.forest.search_batch", "ann.forest.search_batch_s", 1.0, "s"),
    ("ann.forest.assign_leaves", "ann.forest.assign_leaves_s", 1.0, "s"),
    ("ann.forest.self_join", "ann.forest.self_join_s", 1.0, "s"),
    ("ann.forest.bucket_join", "ann.forest.bucket_join_s", 1.0, "s"),
    ("ann.dforest.fit", "ann.dforest.fit_s", 1.0, "s"),
    ("ann.dforest.serve", "ann.dforest.serve_s", 1.0, "s"),
    ("streaming.wave", "streaming.wave_s", 1.0, "s"),
    ("bm25.serve", "bm25.serve_s", 1.0, "s"))

  private val SparkKeys = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
    "spark.executor_cpu_s", "spark.executor_run_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "catalyst.plan_s", "plans.topk_exec_nodes")

  /** Java-serialized size: the bytes a broadcast of the index ships. */
  def serializedBytes(o: AnyRef): Double = {
    var n = 0L
    val counting = new java.io.OutputStream {
      override def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
    }
    val out = new java.io.ObjectOutputStream(counting)
    out.writeObject(o)
    out.close()
    n.toDouble
  }

  def fromSpans(run: Run, spans: Seq[Span]): Unit = {
    val t = run.tracer
    def total(ss: Seq[Span], k: String) = ss.map(_.counters.getOrElse(k, 0.0)).sum
    val roots = spans.filter(_.parent < 0)
    SparkKeys.foreach(k => run.layer(k, total(spans, k), Gated.toMap.getOrElse(k, "s")))
    run.layer("spark.driver_gap_s", roots.map(t.driverGapSeconds).sum, "s")
    run.layer("jvm.gc_s", total(roots, "jvm.gc_s"), "s")
    for ((span, name, scale, unit) <- Timed) {
      val walls = spans.filter(_.name == span).map(_.seconds)
      if (walls.nonEmpty) run.layer(name, Stats.median(walls) * scale, unit)
    }
    val waves = spans.filter(_.name == "streaming.wave")
    run.layer("sinks.bytes_written", total(waves, "sinks.bytes_written"), "bytes")
    run.layers.get("sinks.bytes_ingested").foreach { case (in, _) =>
      run.layer("sinks.write_amp", total(waves, "sinks.bytes_written") / in, "ratio")
    }
    for ((k, u) <- Gated if !run.layers.contains(k)) run.layer(k, 0.0, u)

    // every counter per phase (a root span and everything under it)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    roots.groupBy(_.name).toSeq.sortBy(_._2.head.id).foreach { case (name, rs) =>
      val all = rs.flatMap(subtree)
      val cols = SparkKeys.map(k => s"$k=${Json.num(total(all, k))}") ++ Seq(
        s"wall_s=${Json.num(rs.map(_.seconds).sum)}",
        s"spark.driver_gap_s=${Json.num(rs.map(t.driverGapSeconds).sum)}",
        s"jvm.gc_s=${Json.num(total(rs, "jvm.gc_s"))}",
        s"sinks.bytes_written=${Json.num(total(all, "sinks.bytes_written"))}")
      println(s"phase $name ${cols.mkString(" ")}")
    }
  }
}
