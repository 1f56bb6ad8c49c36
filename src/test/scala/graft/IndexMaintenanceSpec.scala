package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bm25, TextAnalysis}
import graft.streaming.IndexMaintenance
import graft.sources.Tables

class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // scripted upsert schedule: adds in three waves, wave 2 also carries
  // in-place CHANGES of wave-1 docs and explicit DELETE markers
  private def isChanged(c: org.apache.spark.sql.Column) =
    pmod(c, lit(3)) === 0 && pmod(c, lit(5)) === 0
  private def isDeleted(c: org.apache.spark.sql.Column) =
    pmod(c, lit(3)) === 0 && pmod(c, lit(7)) === 0 && pmod(c, lit(5)) =!= 0

  private def schedule(docs: DataFrame): Seq[DataFrame] = Seq(
    docs.filter(pmod($"doc_id", lit(3)) === 0),
    docs.filter(pmod($"doc_id", lit(3)) === 1)
      .unionByName(docs.filter(isChanged($"doc_id"))
        .withColumn("text", concat($"text", lit(" v2"))))
      .unionByName(docs.filter(isDeleted($"doc_id"))
        .withColumn("text", lit(null).cast("string"))),
    docs.filter(pmod($"doc_id", lit(3)) === 2))

  private def finalCorpus(docs: DataFrame): DataFrame = docs
    .filter(!isDeleted($"doc_id"))
    .withColumn("text", when(isChanged($"doc_id"),
      concat($"text", lit(" v2"))).otherwise($"text"))

  private def probeTerms(corpus: DataFrame): Seq[String] = corpus
    .orderBy($"doc_id").limit(1)
    .select(explode(slice(TextAnalysis.tokens($"text"), 1, 5)).as("t"))
    .distinct().as[String].collect().toSeq

  private def rounded(df: DataFrame): Seq[org.apache.spark.sql.Row] = df
    .select($"doc_id", $"n_matched", round($"bm25", 4).as("bm25"))
    .orderBy($"doc_id").collect().toSeq

  test("applyUpserts schedule: maintained store == fresh build over the final corpus") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").localCheckpoint()
    IndexMaintenance.initStores(spark, "graft_im_r")
    val deltas = schedule(docs).zipWithIndex.map { case (b, k) =>
      IndexMaintenance.applyUpserts(spark, "graft_im_r", b, ver = k + 1L,
        buckets = 8)
    }
    // classification counts match the schedule's construction
    val counts = deltas.reduce(_.unionByName(_))
      .groupBy($"status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every doc is added exactly once (deleted ones were still added in
    // wave 1); adds minus removes = the final live count
    assert(counts("added") === docs.count(), counts.toString)
    assert(counts("changed") === docs.filter(isChanged($"doc_id")).count())
    assert(counts("removed") === docs.filter(isDeleted($"doc_id")).count())
    assert(counts("added") - counts("removed") === finalCorpus(docs).count())
    assert(!counts.contains("unchanged"))

    val corpus = finalCorpus(docs).localCheckpoint()
    val probe = probeTerms(corpus)
    assert(rounded(Bm25.scoreIndexed(spark, "graft_im_r", probe)) ===
      rounded(Bm25.score(corpus, probe.toDF("term"))))

    // after normalizing physical state, tables equal a fresh build's
    Bm25.compactIndex(spark, "graft_im_r", buckets = 8)
    IndexMaintenance.compactFingerprints(spark, "graft_im_r")
    Bm25.buildIndex(corpus, "graft_im_f", buckets = 8)
    for (t <- Seq("_postings", "_terms", "_doclens", "_stats")) {
      val a = spark.table("graft_im_r" + t)
      val b = spark.table("graft_im_f" + t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"table $t diverged")
    }
    // the compacted fingerprint log holds exactly the live ids
    assert(spark.table("graft_im_r_fplog").select($"doc_id").as[Long]
      .collect().toSet === corpus.select($"doc_id").as[Long].collect().toSet)

    // at-least-once replay: re-sending ALREADY-APPLIED content at an
    // old version is a completed replay — classified all-unchanged and
    // a harmless no-op (a restarted stream re-delivers its last batch)
    val replaySlice = docs.filter(pmod($"doc_id", lit(3)) === 1).limit(3)
      .localCheckpoint()
    val replay = IndexMaintenance.applyUpserts(spark, "graft_im_r",
      replaySlice, ver = 2L, buckets = 8)
    assert(replay.filter($"status" =!= "unchanged").isEmpty && !replay.isEmpty)
    // ...but an old version that would still CHANGE the store is an
    // ordering conflict and fails loudly
    val boom = intercept[IllegalArgumentException] {
      IndexMaintenance.applyUpserts(spark, "graft_im_r",
        replaySlice.withColumn("text", concat($"text", lit(" conflict"))),
        ver = 2L, buckets = 8)
    }
    assert(boom.getMessage.contains("strictly increasing"))
  }

  test("maintainChampions: tier current after every batch, equal to a fresh tier") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").localCheckpoint()
    IndexMaintenance.initStores(spark, "graft_im_c")
    schedule(docs).zipWithIndex.foreach { case (b, k) =>
      IndexMaintenance.applyUpserts(spark, "graft_im_c", b, ver = k + 1L,
        buckets = 8, maintainChampions = Some(32))
      // the tier exists (and is servable — no pending tombstones can
      // outlive a maintained batch that rebuilt it) after every batch
      assert(spark.catalog.tableExists("graft_im_c_champions"))
    }
    val corpus = finalCorpus(docs).localCheckpoint()
    Bm25.buildIndex(corpus, "graft_im_cf", buckets = 8)
    Bm25.buildChampions(spark, "graft_im_cf", c = 32, buckets = 8)
    val a = spark.table("graft_im_c_champions")
    val f = spark.table("graft_im_cf_champions")
    assert(a.exceptAll(f).isEmpty && f.exceptAll(a).isEmpty,
      "maintained tier must equal a fresh buildChampions over the final corpus")
    // tiered serving through the maintained index == through the fresh one
    val probe = probeTerms(corpus)
    def served(idx: String) = Bm25.scoreIndexedTopK(spark, idx, probe, 10)
      .select($"rank", $"doc_id", $"n_matched", round($"bm25", 4).as("bm25"))
      .orderBy($"rank").collect().toSeq
    assert(served("graft_im_c") === served("graft_im_cf"))
  }

  test("gated face threads maintainChampions: admitted-only tier, current after the wave") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").filter($"doc_id" < 200).localCheckpoint()
    IndexMaintenance.initStores(spark, "graft_im_gc")
    graft.streaming.IngestDedup.initStore(spark, "graft_im_gc_sigs")
    graft.sources.Sinks.dropTable(spark, "graft_im_gc_sigs_pending_rm")
    IndexMaintenance.applyGatedUpserts(spark, "graft_im_gc", "graft_im_gc_sigs",
      docs, ver = 1L, buckets = 8, maintainChampions = Some(16))
    assert(spark.catalog.tableExists("graft_im_gc_champions"))
    // the tier covers exactly the ADMITTED corpus: a fresh tier over
    // the live doclens ids must match
    val admitted = spark.table("graft_im_gc_doclens").select($"doc_id")
    val corpus = docs.join(admitted, Seq("doc_id"), "left_semi").localCheckpoint()
    Bm25.buildIndex(corpus, "graft_im_gcf", buckets = 8)
    Bm25.buildChampions(spark, "graft_im_gcf", c = 16, buckets = 8)
    val a = spark.table("graft_im_gc_champions")
    val f = spark.table("graft_im_gcf_champions")
    assert(a.exceptAll(f).isEmpty && f.exceptAll(a).isEmpty)
  }

  test("delete-then-re-add of the same id forces compaction instead of wedging") {
    // regression: a re-added id classifies `added` (its latest
    // fingerprint is a null-h delete marker), but its old rows are
    // still physically tombstoned in doclens. With no changed docs in
    // the batch and a backlog under compactRatio, nothing used to
    // trigger the rewrite, appendDocs' overlap require threw, and
    // at-least-once redelivery replayed the same batch into the same
    // throw forever.
    val name = "graft_im_dra"
    IndexMaintenance.initStores(spark, name)
    val b1 = Seq((1L, "x1 x2 x3"), (2L, "y1 y2 y3"), (3L, "z1 z2 z3"))
      .toDF("doc_id", "text")
    IndexMaintenance.applyUpserts(spark, name, b1, ver = 1L, buckets = 8,
      compactRatio = 10.0)
    // delete 2: rides the tombstone (backlog 1/3 << 10)
    IndexMaintenance.applyUpserts(spark, name,
      Seq((2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      ver = 2L, buckets = 8, compactRatio = 10.0)
    assert(spark.table(name + "_tombstones").count() === 1L)
    // re-add 2 with fresh content — no changed docs, backlog still
    // under ratio: must compact-then-append, not throw
    val delta = IndexMaintenance.applyUpserts(spark, name,
      Seq((2L, "w1 w2 w3")).toDF("doc_id", "text"),
      ver = 3L, buckets = 8, compactRatio = 10.0)
    assert(delta.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((2L, "added")))
    assert(!spark.catalog.tableExists(name + "_tombstones") ||
      spark.table(name + "_tombstones").isEmpty) // rewrite happened
    val corpus = Seq((1L, "x1 x2 x3"), (2L, "w1 w2 w3"), (3L, "z1 z2 z3"))
      .toDF("doc_id", "text")
    val probe = Seq("x1", "w1", "z1", "y1")
    assert(rounded(Bm25.scoreIndexed(spark, name, probe)) ===
      rounded(Bm25.score(corpus, probe.toDF("term"))))
  }

  test("foreachBatch stream == batch replay; ANN leg folds the same delta") {
    // corpus with vectors: embeddings fixture + a deterministic 1-token text
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id".as("doc_id"),
        concat(lit("tok"), pmod($"vec_id", lit(13))).as("text"), $"embedding")
      .localCheckpoint()
    val batches = schedule(e)

    IndexMaintenance.initStores(spark, "graft_im_s")
    // seed: batch 1 applied batch-mode (the model needs a corpus to fit)
    IndexMaintenance.applyUpserts(spark, "graft_im_s", batches.head,
      ver = 1L, buckets = 8)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      graft.ann.DistributedAnnForest(numTrees = 2, maxLeafSize = 64, seed = 7L)
        .fit(batches.head.select($"doc_id", $"embedding"), idCol = "doc_id"))

    val dir = java.nio.file.Files.createTempDirectory("graft_im_stream").toString
    def write(b: DataFrame) = b.repartition(1).write.mode("append").parquet(dir)
    write(batches(1))
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val statuses = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = IndexMaintenance.maintainStream(stream, "graft_im_s",
        (delta, _) => delta.collect().foreach(r =>
          statuses.add((r.getString(1), r.getLong(0)))),
        buckets = 8, annRef = Some(ref), verBase = 2L)
      .start()
    q.processAllAvailable()
    write(batches(2))
    q.processAllAvailable()
    q.stop()

    // BM25 leg: streaming-applied store serves == ad-hoc over the final
    // corpus (and therefore == the batch replay, proven equal above)
    val corpus = finalCorpus(e).localCheckpoint()
    val probe = probeTerms(corpus)
    assert(rounded(Bm25.scoreIndexed(spark, "graft_im_s", probe)) ===
      rounded(Bm25.score(corpus, probe.toDF("term"))))

    // ANN leg: the folded model holds exactly the live ids, and serves
    // none of the deleted ones
    val liveIds = corpus.select($"doc_id").as[Long].collect().toSet
    val modelIds = ref.get.corpusBuckets.select($"neighbor_id").as[Long]
      .collect().toSet
    assert(modelIds === liveIds)
    val served = ref.get.knnJoin(
        e.limit(4).select($"doc_id".as("query_id"), $"embedding".as("qvec")),
        topK = 5)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(served.subsetOf(liveIds) && served.nonEmpty)

    // the stream classified changes/deletes, not just adds
    val byStatus = statuses.toArray(Array.empty[(String, Long)])
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(byStatus.getOrElse("changed", 0) ===
      e.filter(isChanged($"doc_id")).count().toInt)
    assert(byStatus.getOrElse("removed", 0) ===
      e.filter(isDeleted($"doc_id")).count().toInt)
  }

  test("dedup-gated stream: adds face admission, edits judge v2, takedowns free lookalikes") {
    import graft.streaming.{IndexMaintenance, IngestDedup}
    val name = "graft_im_g"
    val sig = "graft_im_g_sigs"
    IndexMaintenance.initStores(spark, name)
    IngestDedup.initStore(spark, sig)
    graft.sources.Sinks.dropTable(spark, sig + "_pending_rm")

    val b1 = Seq( // 2 is an in-batch near-dup of 1 (jaccard 0.6) → rejected
      (1L, "a1 a2 a3 a4"), (2L, "a1 a2 a3 b1"),
      (3L, "c1 c2 c3 c4"), (4L, "d1 d2 d3 d4")).toDF("doc_id", "text")
    val b2 = Seq( // 4 edited in place; 5 near-dups standing 3 → rejected; 6 fresh
      (4L, "f1 f2 f3 f4 f5"), (5L, "c1 c2 c3 c5"),
      (6L, "e1 e2 e3 e4")).toDF("doc_id", "text")
    val b3 = Seq( // takedown of 3
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val b4 = Seq(
      // 7 near-dups REMOVED 3 (0.6) but not rejected-5's ghost (0.33):
      // admissible only through the pending-removal exclusion
      (7L, "c2 c3 c4 c6"),
      // 8 is exactly 4's OLD text: admissible only if admission judges
      // against the REFRESHED v2 signature (v1 would self-reject it)
      (8L, "d1 d2 d3 d4")).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("graft_im_gated").toString
    def write(b: org.apache.spark.sql.DataFrame) =
      b.repartition(1).write.mode("append").parquet(dir)
    write(b1)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = IndexMaintenance.maintainStreamDeduped(stream, name, sig,
        (_, _) => (), buckets = 8,
        ngram = 1, numHashes = 32, bands = 32, threshold = 0.5,
        compactRatio = 10.0) // keep tombstones pending: the b4 appends
                             // exercise append-under-tombstones
      .start()
    q.processAllAvailable()
    for (b <- Seq(b2, b3, b4)) { write(b); q.processAllAvailable() }
    q.stop()

    // the index serves exactly the expected live, admitted corpus
    val expected = Seq(
      (1L, "a1 a2 a3 a4"), (4L, "f1 f2 f3 f4 f5"), (6L, "e1 e2 e3 e4"),
      (7L, "c2 c3 c4 c6"), (8L, "d1 d2 d3 d4")).toDF("doc_id", "text")
    Bm25.compactIndex(spark, name, buckets = 8)
    assert(spark.table(name + "_doclens").select($"doc_id").as[Long]
      .collect().toSet === Set(1L, 4L, 6L, 7L, 8L))
    val probe = Seq("a1", "f1", "e1", "c2", "d1")
    assert(rounded(Bm25.scoreIndexed(spark, name, probe)) ===
      rounded(Bm25.score(expected, probe.toDF("term"))))
    // the takedown stays pending (nothing re-admitted id 3); the
    // re-admitted content got a fresh id and a fresh signature
    assert(spark.table(sig + "_pending_rm").select($"id").as[Long]
      .collect().toSeq === Seq(3L))

    // a fully-rejected wave (every doc near-dups the standing store)
    // applies an EMPTY gated batch — the no-op path must not disturb
    // either store
    val before = rounded(Bm25.scoreIndexed(spark, name, probe))
    val b5 = Seq((9L, "e1 e2 e3 e5")).toDF("doc_id", "text") // near 6
    val applied = IndexMaintenance.applyGatedUpserts(
      spark, name, sig, b5, ver = 99L, buckets = 8,
      ngram = 1, numHashes = 32, bands = 32, threshold = 0.5,
      compactRatio = 10.0)
    assert(applied.isEmpty) // rejected adds carry no applied row
    assert(!spark.table(name + "_doclens").select($"doc_id").as[Long]
      .collect().contains(9L)) // and never reach the index
    assert(rounded(Bm25.scoreIndexed(spark, name, probe)) === before)
  }

  test("fplog probe prunes partitions to the batch's prefix set") {
    val name = "graft_im_fp"
    IndexMaintenance.initStores(spark, name)
    val docs = spark.range(0, 2000)
      .select($"id".as("doc_id"),
        concat(lit("t"), pmod($"id", lit(131))).as("text"))
    IndexMaintenance.applyUpserts(spark, name, docs, ver = 1L, buckets = 8)
    // a small batch touches few of the 64 fp_prefix partitions; the
    // probe's scan must carry a partition filter on fp_prefix (static
    // file pruning — the ProbeFplogPrune probe measured the quantitative
    // half: probe records read stayed flat while the log grew 10×)
    val small = docs.filter($"doc_id" < 5).localCheckpoint()
    val plan = IndexMaintenance.fplogProbe(spark, name, small, "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("fp_prefix"), "no partition pruning in probe plan:\n" + plan)
    // and the pruned probe still classifies correctly
    val d = IndexMaintenance.classifyUpserts(spark, name, small)
    assert(d.groupBy($"status").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap === Map("unchanged" -> 5L))
  }

  test("signature generations: re-admitted content rejects, dead generation silenced then swept") {
    import graft.streaming.{IndexMaintenance, IngestDedup}
    val name = "graft_im_gen"; val sig = "graft_im_gen_sigs"
    IndexMaintenance.initStores(spark, name)
    IngestDedup.initStore(spark, sig)
    graft.sources.Sinks.dropTable(spark, sig + "_pending_rm")
    def apply(ver: Long, ratio: Double, rows: (Long, String)*) =
      IndexMaintenance.applyGatedUpserts(spark, name, sig,
        rows.toSeq.toDF("doc_id", "text"), ver = ver, buckets = 8,
        ngram = 1, numHashes = 32, bands = 32, threshold = 0.5,
        compactRatio = ratio)
    apply(1L, 10.0, (1L, "a1 a2 a3 a4"), (2L, "x1 x2 x3 x4"))
    apply(2L, 10.0, (1L, null)) // takedown of 1 → pending mark at ver 2
    // re-admission of id 1 with FRESH content writes generation-3 rows
    val d3 = apply(3L, 10.0, (1L, "q1 q2 q3 q4"))
    assert(d3.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "added")))
    // during the pending window: a lookalike of the NEW generation is
    // rejected (its rows are newer than the mark), a lookalike of the
    // DEAD generation is admitted (silenced) — the two halves the
    // id-only exclusion couldn't give at once
    val d4 = apply(4L, 10.0, (3L, "q1 q2 q3 q5"), (4L, "a1 a2 a3 a5"))
    assert(d4.select($"doc_id").as[Long].collect().toSet === Set(4L),
      "new-gen lookalike must reject, dead-gen lookalike must admit")
    // force the sweep: only the superseded generation leaves the store
    apply(5L, 0.0, (9L, "z1 z2 z3 z4"))
    assert(!spark.catalog.tableExists(sig + "_pending_rm"))
    val id1Vers = spark.table(sig + "_bands").filter($"id" === 1L)
      .select($"ver").distinct().as[Long].collect().toSet
    assert(id1Vers === Set(3L), s"only generation 3 should survive: $id1Vers")
    // and the surviving generation still rejects after the sweep
    val d6 = apply(6L, 10.0, (6L, "q1 q2 q3 q7"))
    assert(d6.isEmpty)
  }

  test("gated ANN leg: vector store folds from the same admission; stream == replay") {
    import graft.streaming.{IndexMaintenance, IngestDedup}
    // the gated scenario's schedule, with an embedding per doc; the
    // edit of 4 carries a NEW embedding (the vector leg must refresh,
    // not keep v1); delete markers null both text and vector
    def vec(id: Long, v: Float): Array[Float] = Array(id.toFloat, v)
    val b1 = Seq(
      (1L, "a1 a2 a3 a4", vec(1, 1f)), (2L, "a1 a2 a3 b1", vec(2, 1f)),
      (3L, "c1 c2 c3 c4", vec(3, 1f)), (4L, "d1 d2 d3 d4", vec(4, 1f)))
      .toDF("doc_id", "text", "embedding")
    val b2 = Seq(
      (4L, "f1 f2 f3 f4 f5", vec(4, 2f)), (5L, "c1 c2 c3 c5", vec(5, 1f)),
      (6L, "e1 e2 e3 e4", vec(6, 1f))).toDF("doc_id", "text", "embedding")
    val b3 = Seq((3L, null.asInstanceOf[String],
      null.asInstanceOf[Array[Float]])).toDF("doc_id", "text", "embedding")
    val b4 = Seq(
      (7L, "c2 c3 c4 c6", vec(7, 1f)), (8L, "d1 d2 d3 d4", vec(8, 1f)))
      .toDF("doc_id", "text", "embedding")

    def runGated(name: String, sig: String, apply: Seq[org.apache.spark.sql.DataFrame] =>
        java.util.concurrent.atomic.AtomicReference[graft.ann.DistributedAnnModel])
        : (Set[Long], Set[(Long, Seq[Float])]) = {
      IndexMaintenance.initStores(spark, name)
      IngestDedup.initStore(spark, sig)
      graft.sources.Sinks.dropTable(spark, sig + "_pending_rm")
      val ref = apply(Seq(b1, b2, b3, b4))
      val tombstoned =
        if (spark.catalog.tableExists(name + "_tombstones"))
          spark.table(name + "_tombstones").select($"doc_id").as[Long]
            .collect().toSet
        else Set.empty[Long]
      val live = spark.table(name + "_doclens").select($"doc_id").as[Long]
        .collect().toSet -- tombstoned
      val store = ref.get.corpusBuckets
        .select($"neighbor_id", $"__cvec").distinct()
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
      (live, store)
    }
    def seedRef(name: String, sig: String, first: org.apache.spark.sql.DataFrame) = {
      val d1 = IndexMaintenance.applyGatedUpserts(spark, name, sig, first,
        ver = 1L, buckets = 8, ngram = 1, numHashes = 32, bands = 32,
        threshold = 0.5, compactRatio = 10.0)
      new java.util.concurrent.atomic.AtomicReference(
        graft.ann.DistributedAnnForest(numTrees = 2, maxLeafSize = 8, seed = 7L)
          .fit(first.join(d1.filter($"status" === "added").select($"doc_id"),
            Seq("doc_id"), "left_semi").select($"doc_id", $"embedding"),
            idCol = "doc_id"))
    }

    // (a) batch-mode replay through applyGatedUpserts
    val (liveR, storeR) = runGated("graft_im_ga_r", "graft_im_ga_r_sigs", { bs =>
      val ref = seedRef("graft_im_ga_r", "graft_im_ga_r_sigs", bs.head)
      bs.tail.zipWithIndex.foreach { case (b, k) =>
        IndexMaintenance.applyGatedUpserts(spark, "graft_im_ga_r",
          "graft_im_ga_r_sigs", b, ver = k + 2L, buckets = 8,
          ngram = 1, numHashes = 32, bands = 32, threshold = 0.5,
          compactRatio = 10.0, annRef = Some(ref))
      }
      ref
    })
    // (b) the streaming wiring over the same schedule
    val (liveS, storeS) = runGated("graft_im_ga_s", "graft_im_ga_s_sigs", { bs =>
      val ref = seedRef("graft_im_ga_s", "graft_im_ga_s_sigs", bs.head)
      val dir = java.nio.file.Files.createTempDirectory("graft_im_ga").toString
      def write(b: org.apache.spark.sql.DataFrame) =
        b.repartition(1).write.mode("append").parquet(dir)
      write(bs(1))
      val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val q = IndexMaintenance.maintainStreamDeduped(stream, "graft_im_ga_s",
          "graft_im_ga_s_sigs", (_, _) => (), buckets = 8,
          ngram = 1, numHashes = 32, bands = 32, threshold = 0.5,
          compactRatio = 10.0, verBase = 2L, annRef = Some(ref))
        .start()
      q.processAllAvailable()
      for (b <- bs.drop(2)) { write(b); q.processAllAvailable() }
      q.stop()
      ref
    })

    // one admission decision gates both stores: vector ids == live
    // index ids; rejected 2/5 and taken-down 3 absent; edited 4 holds
    // its REFRESHED v2 vector; re-added-content 8 present
    val expected = Set(
      (1L, Seq(1f, 1f)), (4L, Seq(4f, 2f)), (6L, Seq(6f, 1f)),
      (7L, Seq(7f, 1f)), (8L, Seq(8f, 1f)))
    assert(liveR === Set(1L, 4L, 6L, 7L, 8L))
    assert(storeR === expected)
    // ...and the stream-maintained state is the batch-replay state
    assert(liveS === liveR)
    assert(storeS === storeR)
  }

  test("gated IVF fold: standing IVF store maintained from the same admission == rebuild") {
    import graft.streaming.{IndexMaintenance, IngestDedup}
    def vec(id: Long, v: Float): Array[Float] = Array(id.toFloat, v)
    val b1 = Seq(
      (1L, "a1 a2 a3 a4", vec(1, 1f)), (2L, "a1 a2 a3 b1", vec(2, 1f)),
      (3L, "c1 c2 c3 c4", vec(3, 1f)), (4L, "d1 d2 d3 d4", vec(4, 1f)))
      .toDF("doc_id", "text", "embedding")
    val b2 = Seq(
      (4L, "f1 f2 f3 f4 f5", vec(4, 2f)), (5L, "c1 c2 c3 c5", vec(5, 1f)),
      (6L, "e1 e2 e3 e4", vec(6, 1f))).toDF("doc_id", "text", "embedding")
    val b3 = Seq((3L, null.asInstanceOf[String],
      null.asInstanceOf[Array[Float]])).toDF("doc_id", "text", "embedding")
    val b4 = Seq(
      (7L, "c2 c3 c4 c6", vec(7, 1f)), (8L, "d1 d2 d3 d4", vec(8, 1f)))
      .toDF("doc_id", "text", "embedding")
    val name = "graft_im_gi"; val sig = "graft_im_gi_sigs"
    val store = "graft_im_gi_vecs"; val pqStore = "graft_im_gi_pq"
    IndexMaintenance.initStores(spark, name)
    IngestDedup.initStore(spark, sig)
    graft.sources.Sinks.dropTable(spark, sig + "_pending_rm")
    for (t <- Seq(store, store + "_tombstones", pqStore,
        pqStore + "_tombstones"))
      graft.sources.Sinks.dropTable(spark, t)

    val d1 = IndexMaintenance.applyGatedUpserts(spark, name, sig, b1,
      ver = 1L, buckets = 8, ngram = 1, numHashes = 32, bands = 32,
      threshold = 0.5, compactRatio = 10.0)
    val admitted1 = b1.join(d1.filter($"status" === "added").select($"doc_id"),
      Seq("doc_id"), "left_semi").select($"doc_id", $"embedding")
    val model = graft.ann.IvfIndex(nlist = 2, nprobe = 2, seed = 5L)
      .fit(admitted1)
    val pqModel = graft.ann.PqIndex(m = 2, seed = 5L).fit(admitted1)
    val ivfFold = IndexMaintenance.ivfStoreFold(spark, model, store, buckets = 8)
    val pqFold = IndexMaintenance.ivfPqStoreFold(spark, pqModel, model,
      pqStore, buckets = 8)
    // one admission decision, TWO standing stores: folds compose as
    // plain functions
    val fold: IndexMaintenance.VecFold =
      (gone, put) => { ivfFold(gone, put); pqFold(gone, put) }
    // seed the stores with wave 1's admitted vectors (same bootstrap
    // the forest leg's fit performs), then fold the remaining waves
    fold(spark.range(0).select($"id".as("doc_id")), admitted1)
    for ((b, k) <- Seq(b2, b3, b4).zipWithIndex)
      IndexMaintenance.applyGatedUpserts(spark, name, sig, b,
        ver = k + 2L, buckets = 8, ngram = 1, numHashes = 32, bands = 32,
        threshold = 0.5, compactRatio = 10.0, vecFold = Some(fold))

    // the maintained store holds exactly the live admitted vectors —
    // rejected 2/5 never entered, taken-down 3 is gone, edited 4 holds
    // its refreshed v2 vector
    val got = spark.table(store)
      .select($"neighbor_id", $"__cvec").distinct()
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(got === Set(
      (1L, Seq(1f, 1f)), (4L, Seq(4f, 2f)), (6L, Seq(6f, 1f)),
      (7L, Seq(7f, 1f)), (8L, Seq(8f, 1f))))
    // no tombstone debt left behind by the per-batch purge discipline
    assert(!spark.catalog.tableExists(store + "_tombstones") ||
      spark.table(store + "_tombstones").isEmpty)
    // and the maintained store is TABLE-equal to a fresh saveStore of
    // the live corpus under the same frozen quantizer (cells included)
    val liveVecs = Seq(
      (1L, vec(1, 1f)), (4L, vec(4, 2f)), (6L, vec(6, 1f)),
      (7L, vec(7, 1f)), (8L, vec(8, 1f))).toDF("doc_id", "embedding")
    model.saveStore(liveVecs, store + "_rebuilt", buckets = 8,
      corpusId = "doc_id", corpusVec = "embedding")
    val a = spark.table(store)
    val b = spark.table(store + "_rebuilt")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "maintained IVF store diverged from a rebuild over the live corpus")
    // the maintained store's sign-packed codes serve the 32× BQ path
    // with zero extra maintenance: store-served ≡ ad-hoc over the live
    // corpus (the TABLE-equality above already covers __bq; this pins
    // the serving face end to end)
    val bqQ = Seq((100L, vec(6, 1f))).toDF("query_id", "qvec")
    def served(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id").collect().toSet
    assert(
      served(model.knnJoinStoreBq(spark, store, bqQ, topK = 3, c = 5)) ===
      served(model.knnJoinBq(liveVecs, bqQ, topK = 3, c = 5,
        corpusId = "doc_id", corpusVec = "embedding")))

    // the compressed leg: same ids, and the maintained IVF-PQ store is
    // TABLE-equal (cells + codes) to a fresh saveCorpusIvf of the live
    // corpus under the same frozen quantizers
    assert(spark.table(pqStore).select($"neighbor_id").distinct()
      .as[Long].collect().toSet === Set(1L, 4L, 6L, 7L, 8L))
    pqModel.saveCorpusIvf(model, liveVecs, pqStore + "_rebuilt", buckets = 8,
      corpusId = "doc_id", corpusVec = "embedding")
    val pa = spark.table(pqStore)
    val pb = spark.table(pqStore + "_rebuilt")
    assert(pa.exceptAll(pb).isEmpty && pb.exceptAll(pa).isEmpty,
      "maintained IVF-PQ store diverged from a rebuild over the live corpus")
  }
}
