package graft

import org.apache.spark.sql.functions._
import graft.operators.{NbClassifier, NbStore}

/** Standing NB model: the additive-count lifecycle must be
  * algebraically exact (append+remove ≡ fresh fit of the live set,
  * table-for-table and score-for-score), and misuse must fail loud. */
class NbStoreSpec extends SparkSpec {
  import spark.implicits._

  private def labeled(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "label")

  test("init + append + remove equals the fresh fit of the live set, tables and scores") {
    val a = labeled((1L, "a a b", "x"), (2L, "c c", "y"), (3L, "b c", "x"))
    val b = labeled((4L, "a c c", "y"), (5L, "b b b", "x"))
    val gone = labeled((2L, "c c", "y"), (5L, "b b b", "x"))
    val live = labeled((1L, "a a b", "x"), (3L, "b c", "x"), (4L, "a c c", "y"))
    NbStore.initStore(a, "nbspec_m", buckets = 4)
    NbStore.appendDocs(b, "nbspec_m", buckets = 4)
    NbStore.removeDocs(gone, "nbspec_m", buckets = 4)
    NbStore.initStore(live, "nbspec_f", buckets = 4)
    for (t <- Seq("_counts", "_class")) {
      val m = spark.table("nbspec_m" + t)
      val f = spark.table("nbspec_f" + t)
      assert(m.exceptAll(f).isEmpty && f.exceptAll(m).isEmpty,
        s"maintained $t diverged from the fresh fit")
    }
    val probe = Seq((9L, "a b c"), (10L, "zzz")).toDF("doc_id", "text")
    val viaStore = NbStore.scoreFromStore(spark, "nbspec_m", probe)
    val viaFit = NbClassifier.scoreAgainst(probe, live)
    assert(viaStore.exceptAll(viaFit).isEmpty &&
      viaFit.exceptAll(viaStore).isEmpty)
    // removing y's last doc next: class row must disappear entirely
    NbStore.removeDocs(labeled((4L, "a c c", "y")), "nbspec_m", buckets = 4)
    assert(spark.table("nbspec_m_class").filter($"label" === "y").isEmpty)
    assert(spark.table("nbspec_m_counts").filter($"label" === "y").isEmpty)
  }

  test("removing never-appended docs fails loud and leaves the store unchanged") {
    val a = labeled((1L, "a a", "x"))
    NbStore.initStore(a, "nbspec_neg", buckets = 4)
    val before = spark.table("nbspec_neg_counts").collect().toSet
    val ex = intercept[IllegalArgumentException] {
      NbStore.removeDocs(labeled((7L, "a a a a", "x")), "nbspec_neg", buckets = 4)
    }
    assert(ex.getMessage.contains("negative"))
    assert(spark.table("nbspec_neg_counts").collect().toSet === before)
  }

  test("removing every doc empties the store; a later append still merges") {
    val one = labeled((1L, "solo solitary", "a"))
    NbStore.initStore(one, "nbspec_empty", buckets = 4)
    NbStore.removeDocs(one, "nbspec_empty", buckets = 4)
    assert(spark.table("nbspec_empty_counts").isEmpty,
      "rows survived a full cancellation")
    assert(spark.table("nbspec_empty_class").isEmpty)
    NbStore.appendDocs(labeled((2L, "fresh start", "b")), "nbspec_empty", buckets = 4)
    assert(spark.table("nbspec_empty_counts").count() === 2)
  }

  test("classifyFromStore serves the argmax with the in-memory tie-break") {
    val train = labeled((1L, "a a", "m"), (2L, "b b", "k"))
    NbStore.initStore(train, "nbspec_tie", buckets = 4)
    val pred = NbStore.classifyFromStore(spark, "nbspec_tie",
      Seq((5L, "a b")).toDF("doc_id", "text")).collect().head
    assert(pred.getString(1) === "k", "tie must go to the ascending label")
  }

  // ---- LmStore (same CountStore contract, n-gram tables) ----

  test("LM store: init + append + remove equals the fresh count; store serve equals in-memory") {
    import graft.operators.{LmStore, UnigramLm}
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val a = docs((1L, "a b c a b d"), (2L, "c a b"))
    val b = docs((3L, "b c a b"), (4L, "d d d d"))
    val gone = docs((2L, "c a b"), (4L, "d d d d"))
    val live = docs((1L, "a b c a b d"), (3L, "b c a b"))
    LmStore.initStore(a, "lmspec_m", buckets = 4)
    LmStore.appendDocs(b, "lmspec_m", buckets = 4)
    LmStore.removeDocs(gone, "lmspec_m", buckets = 4)
    LmStore.initStore(live, "lmspec_f", buckets = 4)
    for (t <- Seq("_tri", "_bi", "_uni")) {
      val m = spark.table("lmspec_m" + t)
      val f = spark.table("lmspec_f" + t)
      assert(m.exceptAll(f).isEmpty && f.exceptAll(m).isEmpty,
        s"maintained $t diverged from the fresh count")
    }
    val probe = docs((9L, "a b c"), (10L, "b b a"))
    val viaStore = LmStore.scoreFromStore(spark, "lmspec_m", probe)
    val viaFit = UnigramLm.trigramStupidBackoff(probe, live)
    assert(viaStore.exceptAll(viaFit).isEmpty &&
      viaFit.exceptAll(viaStore).isEmpty)
  }

  test("stream-fed NB store equals the one-shot fit; duplicate delivery is skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nb_stream").toString
    val all = Seq((1L, "a a b", "x"), (2L, "c c", "y"), (3L, "b c", "x"),
      (4L, "a c c", "y"), (5L, "b b b", "x"), (6L, "a b", "y"))
    def write(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "label").repartition(1)
        .write.mode("append").parquet(dir)
    write(all.slice(0, 2))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    NbStore.initStore(labeled(), "nbspec_stream", buckets = 4)
    val q = NbStore.maintainStream(stream, "nbspec_stream", buckets = 4).start()
    q.processAllAvailable()
    write(all.slice(2, 4))
    q.processAllAvailable()
    write(all.slice(4, 6))
    q.processAllAvailable()
    q.stop()
    NbStore.initStore(labeled(all: _*), "nbspec_stream_f", buckets = 4)
    for (t <- Seq("_counts", "_class")) {
      val m = spark.table("nbspec_stream" + t)
      val f = spark.table("nbspec_stream_f" + t)
      assert(m.exceptAll(f).isEmpty && f.exceptAll(m).isEmpty,
        s"stream-fed $t diverged from the one-shot fit")
    }
    // at-least-once simulation: re-deliver an already-applied batch id
    // (the stream committed ids 0, 1, 2 to the ledger)
    val before = spark.table("nbspec_stream_counts").collect().toSet
    assert(!NbStore.applyBatch(labeled(all.head), "nbspec_stream", 4,
      "text", "label", batchId = 1L),
      "re-delivered batch must be skipped")
    assert(spark.table("nbspec_stream_counts").collect().toSet === before,
      "duplicate delivery must not change the model")
  }

  test("ledger compaction: one file, identical skip behavior") {
    import graft.operators.CountStore
    NbStore.initStore(labeled((1L, "a", "x")), "nbspec_led", buckets = 2)
    (1L to 5L).foreach(b => NbStore.applyBatch(
      labeled((10L + b, "b c", "x")), "nbspec_led", 2, "text", "label", b))
    val filesBefore = spark.table("nbspec_led_applied").inputFiles.length
    assert(filesBefore >= 5, s"expected >=5 ledger files, got $filesBefore")
    CountStore.compactLedger(spark, "nbspec_led")
    assert(spark.table("nbspec_led_applied").inputFiles.length === 1)
    // skips exactly the applied ids, admits a fresh one
    assert(!NbStore.applyBatch(labeled((99L, "z", "x")), "nbspec_led", 2,
      "text", "label", batchId = 3L))
    assert(NbStore.applyBatch(labeled((99L, "z", "x")), "nbspec_led", 2,
      "text", "label", batchId = 6L))
    // the PRICED trigger (r13, the fold's cadence): below the file
    // threshold it is a no-op; above, it compacts with identical skip
    // behavior
    val files = spark.table("nbspec_led_applied").inputFiles.length
    CountStore.maybeCompactLedger(spark, "nbspec_led", maxFiles = 1000)
    assert(spark.table("nbspec_led_applied").inputFiles.length === files)
    CountStore.maybeCompactLedger(spark, "nbspec_led", maxFiles = 0)
    assert(spark.table("nbspec_led_applied").inputFiles.length === 1)
    assert(!NbStore.applyBatch(labeled((99L, "z", "x")), "nbspec_led", 2,
      "text", "label", batchId = 6L))
  }

  test("ledger compact is crash-safe: torn swap heals from durable staging at every entry point") {
    import graft.operators.CountStore
    def mkStore(): Unit = {
      NbStore.initStore(labeled((1L, "a", "x")), "nbspec_led2", buckets = 2)
      (1L to 3L).foreach(b => NbStore.applyBatch(
        labeled((10L + b, "b", "x")), "nbspec_led2", 2, "text", "label", b))
    }
    val marker = "nbspec_led2_applied__compact"
    val staging = "nbspec_led2_applied__staging"
    // crash point 1: staging written in full, marker down, ledger
    // dropped — the mid-swap window that used to lose the ledger
    mkStore()
    spark.table("nbspec_led2_applied").distinct().coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(staging)
    CountStore.setBuilding(spark, marker, on = true)
    graft.sources.Sinks.dropTable(spark, "nbspec_led2_applied")
    // any ledger read heals: applied ids are intact, skips unchanged
    assert(CountStore.alreadyApplied(spark, "nbspec_led2", 2L),
      "heal-from-staging must preserve the applied set")
    assert(!CountStore.alreadyApplied(spark, "nbspec_led2", 9L))
    assert(!spark.catalog.tableExists(staging), "staging must clear after heal")
    assert(!NbStore.applyBatch(labeled((99L, "z", "x")), "nbspec_led2", 2,
      "text", "label", batchId = 3L), "healed ledger must still skip")
    // crash point 2: swap completed, only the marker lift was lost
    CountStore.setBuilding(spark, marker, on = true)
    assert(CountStore.alreadyApplied(spark, "nbspec_led2", 1L))
    // marker cleared — a fresh compact runs clean end to end
    CountStore.compactLedger(spark, "nbspec_led2")
    assert(spark.table("nbspec_led2_applied").inputFiles.length === 1)
    // crash point 3: marker down with NEITHER ledger nor staging — not
    // a state compact can produce; refuse loudly
    graft.sources.Sinks.dropTable(spark, "nbspec_led2_applied")
    CountStore.setBuilding(spark, marker, on = true)
    val e = intercept[IllegalStateException] {
      CountStore.alreadyApplied(spark, "nbspec_led2", 1L)
    }
    assert(e.getMessage.contains("rebuild"))
    // initStore is the repair path: clears compact state wholesale
    mkStore()
    assert(CountStore.alreadyApplied(spark, "nbspec_led2", 1L))
  }

  test("a torn commit (marker present) refuses serve and merge loudly; initStore repairs") {
    import graft.operators.CountStore
    NbStore.initStore(labeled((1L, "a a", "x")), "nbspec_torn", buckets = 4)
    CountStore.setBuilding(spark, "nbspec_torn", on = true)
    val e1 = intercept[IllegalArgumentException] {
      NbStore.scoreFromStore(spark, "nbspec_torn",
        Seq((5L, "a")).toDF("doc_id", "text")).collect()
    }
    assert(e1.getMessage.contains("interrupted"))
    intercept[IllegalArgumentException] {
      NbStore.appendDocs(labeled((2L, "b", "x")), "nbspec_torn", buckets = 4)
    }
    // rebuild IS the repair path
    NbStore.initStore(labeled((1L, "a a", "x")), "nbspec_torn", buckets = 4)
    assert(NbStore.scoreFromStore(spark, "nbspec_torn",
      Seq((5L, "a")).toDF("doc_id", "text")).count() > 0)
  }

  test("a store left in the removed prefix-partitioned layout is refused by name; initStore repairs") {
    val name = "nbspec_v2left"
    val train = labeled((1L, "a a", "x"))
    val probe = Seq((5L, "a")).toDF("doc_id", "text")
    def refusedEverywhere(): Unit =
      Seq[(String, () => Any)](
        "serve" -> (() => NbStore.scoreFromStore(spark, name, probe).collect()),
        "appendDocs" -> (() =>
          NbStore.appendDocs(labeled((2L, "b", "x")), name, buckets = 4)),
        "describeStore" -> (() => NbStore.describeStore(spark, name).collect())
      ).foreach { case (face, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"count store '$name' was written in the " +
          "removed prefix-partitioned layout") &&
          e.getMessage.contains("rebuild it with initStore"), s"$face: ${e.getMessage}")
      }
    NbStore.initStore(train, name, buckets = 4)
    // the declaration table that layout wrote next to the store
    graft.sources.Sinks.parquetTable(
      spark.range(1).select(lit(8).as("prefixes")), s"${name}_layout")
    refusedEverywhere()
    NbStore.initStore(train, name, buckets = 4)
    assert(!spark.catalog.tableExists(s"${name}_layout"))
    assert(NbStore.scoreFromStore(spark, name, probe).count() > 0)
    // only its warehouse directory: a new session's catalog does not
    // know the table, the directory is still there
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${name}_layout")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
    refusedEverywhere()
    NbStore.initStore(train, name, buckets = 4)
    assert(NbStore.scoreFromStore(spark, name, probe).count() > 0)
  }

  test("describeStore reports exact model metrics incl the streaming ledger") {
    val train = labeled((1L, "a a b", "x"), (2L, "c c", "y"))
    NbStore.initStore(train, "nbspec_desc", buckets = 4)
    val m = NbStore.describeStore(spark, "nbspec_desc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pairs: (x,a)(x,b)(y,c) = 3; vocab 3; 2 classes; 2 docs; 5 tokens;
    // stale_batches joined the report in r12 (the deferral ledger — 0
    // for a store no takedown ever deferred against)
    assert(m === Map("applied_batches" -> 0L, "n_class_token_pairs" -> 3L,
      "n_classes" -> 2L, "n_docs" -> 2L, "n_tokens" -> 5L, "vocab" -> 3L,
      "stale_batches" -> 0L))
    NbStore.applyBatch(labeled((3L, "b", "x")), "nbspec_desc", 4,
      "text", "label", batchId = 7L)
    val m2 = NbStore.describeStore(spark, "nbspec_desc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m2("applied_batches") === 1L && m2("n_docs") === 3L)
    // LM flavor over "a b c": 1 trigram, 2 bigrams, vocab 3, 3 tokens
    import graft.operators.LmStore
    LmStore.initStore(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "lmspec_desc", buckets = 4)
    val lm = LmStore.describeStore(spark, "lmspec_desc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lm === Map("applied_batches" -> 0L, "n_bigrams" -> 2L,
      "n_trigrams" -> 1L, "total_tokens" -> 3L, "vocab" -> 3L,
      "stale_batches" -> 0L))
  }

  test("LM store: a removal that passes one table but not all writes NOTHING") {
    import graft.operators.LmStore
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // store from "a b" twice: uni a=2 b=2, bi (a,b)=2, NO trigrams.
    LmStore.initStore(docs((1L, "a b"), (2L, "a b")), "lmspec_atomic", buckets = 4)
    val triBefore = spark.table("lmspec_atomic_tri").count()
    val uniBefore = spark.table("lmspec_atomic_uni").collect().toSet
    // removing "a b c" passes nothing trigram-wise? it INTRODUCES a
    // trigram debit the store never had → tri merge must fail, and
    // the uni/bi tables (whose merges would pass for a/b but not c)
    // must stay untouched
    val ex = intercept[IllegalArgumentException] {
      LmStore.removeDocs(docs((1L, "a b c")), "lmspec_atomic", buckets = 4)
    }
    assert(ex.getMessage.contains("negative"))
    assert(spark.table("lmspec_atomic_tri").count() === triBefore)
    assert(spark.table("lmspec_atomic_uni").collect().toSet === uniBefore)
  }
}
