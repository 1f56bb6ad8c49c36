package graft

import org.apache.spark.sql.functions._
import graft.ann._
import graft.operators.KnnExact
import graft.sources.Tables

class PqSpec extends SparkSpec {

  lazy val emb = Tables.embeddings(spark, sf0001).cache()
  lazy val pq = PqIndex(m = 8, seed = 42L).fit(emb, "embedding")

  private def firstVec(): Array[Float] =
    emb.orderBy("vec_id").head().getAs[Seq[Float]]("embedding").toArray

  test("ADC distance == exact squared distance to the decoded vector") {
    val q = firstVec()
    val table = pq.adcTable(q)
    val sample = emb.orderBy("vec_id").limit(20).collect()
      .map(_.getAs[Seq[Float]]("embedding").toArray)
    sample.foreach { v =>
      val code = pq.encodeVec(v)
      // same terms, different grouping (per-subspace partial sums vs one
      // running sum) — equal up to double rounding
      val adc = pq.adcDist(table, code)
      val exact = IvfModel.sqDist(q, pq.decodeVec(code))
      assert(math.abs(adc - exact) <= 1e-9 * math.max(1.0, exact),
        s"adc $adc vs exact $exact")
    }
  }

  test("encode is deterministic and quantization error is bounded") {
    val vs = emb.limit(50).collect().map(_.getAs[Seq[Float]]("embedding").toArray)
    vs.foreach { v =>
      val c1 = pq.encodeVec(v)
      val c2 = pq.encodeVec(v)
      assert(java.util.Arrays.equals(c1, c2))
      val norm = math.sqrt(IvfModel.sqDist(v, new Array[Float](v.length)))
      val err = math.sqrt(IvfModel.sqDist(v, pq.decodeVec(c1)))
      // 256 centroids per 8-dim subspace trained on this corpus: the
      // quantization error must be small relative to the vector norm
      assert(err < 0.5 * norm, s"quantization error $err vs norm $norm")
    }
  }

  test("save/load round-trips codebooks and codes") {
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    pq.save(dir, spark)
    val loaded = PqModel.load(dir, spark)
    assert(loaded.m === pq.m && loaded.dsub === pq.dsub)
    for (s <- 0 until pq.m; c <- 0 until 256)
      assert(java.util.Arrays.equals(loaded.codebooks(s)(c), pq.codebooks(s)(c)))
    val v = firstVec()
    assert(java.util.Arrays.equals(loaded.encodeVec(v), pq.encodeVec(v)))
  }

  private def recallVsExact(approx: org.apache.spark.sql.DataFrame, k: Int,
      queries: org.apache.spark.sql.DataFrame): Double = {
    val exact = KnnExact.knnBatch(emb, queries, k)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("truth"))
    val got = approx
      .groupBy("query_id").agg(collect_set("neighbor_id").as("found"))
    exact.join(got, "query_id")
      .select(avg(size(array_intersect(col("truth"), col("found"))) / k.toDouble))
      .head().getDouble(0)
  }

  lazy val queries = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  test("pure-ADC top-10 recall vs exact") {
    val encoded = pq.encode(emb, "embedding").select("vec_id", "pq_code")
    // this corpus is built around near-duplicate clusters, so the exact
    // top-10 has razor-thin distance gaps — pure ADC (8 bytes/vector,
    // no refine) lands 0.66 here; the refine test below is the quality
    // gate, this pins the unrefined floor
    val r = recallVsExact(pq.knnJoin(encoded, queries, topK = 10), 10, queries)
    assert(r >= 0.60, s"ADC recall $r")
  }

  test("ADC shortlist + exact refine reaches full recall") {
    val encoded = pq.encode(emb, "embedding").select("vec_id", "pq_code")
    val shortlist = pq.knnJoin(encoded, queries, topK = 50)
      .select("query_id", "neighbor_id")
    val refined = pq.refine(shortlist, emb, queries, topK = 10)
    val r = recallVsExact(refined, 10, queries)
    assert(r >= 0.99, s"refined recall $r")
  }

  test("IVF-PQ join recall") {
    val ivf = IvfIndex(nlist = 16, nprobe = 8, seed = 42L).fit(emb, "embedding")
    val r = recallVsExact(
      pq.knnJoinIvf(ivf, emb, queries, topK = 10), 10, queries)
    // nprobe=8 of 16 cells scanned AND ADC-approximate distances —
    // both approximations compound (measured 0.625 on this corpus)
    assert(r >= 0.60, s"IVF-PQ recall $r")
  }

  test("IVF×BQ join: full oversample ≡ plain IVF; bounded oversample keeps recall") {
    import org.apache.spark.sql.functions.col
    val ivf = IvfIndex(nlist = 16, nprobe = 8, seed = 42L).fit(emb, "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count().toInt
    // at c = |corpus| the asym cut keeps every in-cell candidate, so the
    // composition must EQUAL plain IVF — its only own approximation is
    // the candidate cut
    assert(pairs(ivf.knnJoinBq(emb, queries, topK = 10, c = n)) ===
      pairs(ivf.knnJoin(emb, queries, topK = 10)))
    val r = recallVsExact(ivf.knnJoinBq(emb, queries, topK = 10, c = 64), 10, queries)
    assert(r >= 0.55, s"IVF×BQ recall $r")
    // the plan must never go cartesian and must heap-bound the candidates
    val p = ivf.knnJoinBq(emb, queries, topK = 10, c = 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("standing-store BQ serve ≡ ad-hoc composition; bucket AND column pruning visible") {
    import org.apache.spark.sql.functions.col
    val ivf = IvfIndex(nlist = 16, nprobe = 8, seed = 42L).fit(emb, "embedding")
    val t = "graft_pqspec_bqstore"
    ivf.saveStore(emb, t, buckets = 8)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // frozen quantizer + same codes → store serve is bit-identical to ad-hoc
    assert(pairs(ivf.knnJoinStoreBq(spark, t, queries, topK = 10, c = 64)) ===
      pairs(ivf.knnJoinBq(emb, queries, topK = 10, c = 64)))
    // tombstoned ids disappear immediately
    val dropIds = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    ivf.removeStore(spark, t, dropIds)
    val served = pairs(ivf.knnJoinStoreBq(spark, t, queries, topK = 10, c = 64))
    assert(served.forall { case (_, nid) => nid % 5 != 0 }, "tombstoned id served")
    // plan: probed cells prune buckets; the scoring scan never reads __cvec
    val p = ivf.knnJoinStoreBq(spark, t, queries, topK = 10, c = 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"), "bucket pruning lost:\n" + p)
    val bqScans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
      .filter(_.contains("__bq"))
    assert(bqScans.nonEmpty, "no scan reads the code column:\n" + p)
    assert(bqScans.forall(!_.contains("__cvec")),
      "the scoring scan must column-prune the vector:\n" + p)
  }

  test("standing compressed corpus: indexed IVF-PQ serve ≡ ad-hoc, no corpus-side exchange") {
    import spark.implicits._
    val ivf = IvfIndex(nlist = 16, nprobe = 8, seed = 42L).fit(emb, "embedding")
    pq.saveCorpusIvf(ivf, emb, "graft_pq_corpus", buckets = 8)
    try {
      val indexed = pq.knnJoinIvfIndexed(spark, ivf, "graft_pq_corpus", queries, topK = 10)
      // plan-shape assert BEFORE execution: after collect, AQE's
      // executedPlan.toString prints final + original plan and a regex
      // count double-counts (recorded pitfall)
      // the compressed corpus must never move: at most the probed QUERY
      // side exchanges on cell (Spark may broadcast the query side
      // instead — zero cell exchanges; either way the corpus-side scan
      // feeds the join directly, the bucketed layout covering the
      // shuffle-join case at scale per SinksAndAggSpec)
      val p = indexed.queryExecution.executedPlan.toString
      val cellExchanges = "Exchange hashpartitioning\\(cell".r.findAllIn(p).length
      assert(cellExchanges <= 1, s"corpus-side cell exchange crept in:\n$p")
      val adhoc = pq.knnJoinIvf(ivf, emb, queries, topK = 10)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
      assert(rows(indexed) === rows(adhoc))
    } finally spark.sql("DROP TABLE IF EXISTS graft_pq_corpus")
  }

  test("IVF store lifecycle: frozen-quantizer append ≡ rebuild; deletes visible, purge, re-add after compact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val ivf = IvfIndex(nlist = 16, nprobe = 8, seed = 42L)
      .fit(emb.filter(col("vec_id") < 300), "embedding")
    val t = "graft_ivf_lc"
    def tableRows(name: String) = spark.table(name)
      .select($"cell", $"neighbor_id").as[(Int, Long)].collect().toSet
    try {
      // append without retrain lands every delta row in exactly the
      // cell a full save would assign (frozen centroids) — table-equal
      ivf.saveStore(emb.filter(col("vec_id") < 300), t, buckets = 8)
      ivf.appendStore(emb.filter(col("vec_id") >= 300), t, buckets = 8)
      ivf.saveStore(emb, t + "_rb", buckets = 8)
      assert(tableRows(t) === tableRows(t + "_rb"))
      // tombstoned deletes vanish from serving immediately...
      val removed = emb.filter(pmod($"vec_id", lit(10)) === 3).select($"vec_id")
      ivf.removeStore(spark, t, removed)
      val served = ivf.knnJoinStore(spark, t, queries, topK = 10)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      assert(served.nonEmpty && !served.exists(_._2 % 10 == 3))
      // ...and compaction purges physically without changing results
      ivf.compactStore(spark, t, buckets = 8)
      assert(!spark.catalog.tableExists(t + "_tombstones"))
      assert(!tableRows(t).exists(_._2 % 10 == 3))
      assert(ivf.knnJoinStore(spark, t, queries, topK = 10)
        .select($"query_id", $"neighbor_id").as[(Long, Long)]
        .collect().toSet === served)
      // delete → compact → re-append roundtrips the id (the documented
      // re-add-after-compact discipline)
      val back = emb.filter($"vec_id" === 3)
      ivf.appendStore(back, t, buckets = 8)
      assert(tableRows(t).exists(_._2 == 3L))
      assert(ivf.knnJoinStore(spark, t,
          back.select($"vec_id".as("query_id"), $"embedding".as("qvec")),
          topK = 1)
        .select($"neighbor_id").as[Long].collect().toSeq === Seq(3L))
      // the compressed composition: same append-without-retrain
      // equality and tombstone visibility over (cell, id, pq_code)
      pq.saveCorpusIvf(ivf, emb.filter(col("vec_id") < 300), t + "_pq", buckets = 8)
      pq.appendCorpusIvf(ivf, emb.filter(col("vec_id") >= 300), t + "_pq", buckets = 8)
      pq.saveCorpusIvf(ivf, emb, t + "_pq_rb", buckets = 8)
      def pqRows(name: String) = spark.table(name)
        .select($"cell", $"neighbor_id", $"pq_code").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
      assert(pqRows(t + "_pq") === pqRows(t + "_pq_rb"))
      pq.removeCorpusIvf(spark, t + "_pq", removed)
      val pqServed = pq.knnJoinIvfIndexed(spark, ivf, t + "_pq", queries, topK = 10)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      assert(pqServed.nonEmpty && !pqServed.exists(_._2 % 10 == 3))
      pq.compactCorpusIvf(spark, t + "_pq", buckets = 8)
      assert(!spark.catalog.tableExists(t + "_pq_tombstones"))
      assert(pq.knnJoinIvfIndexed(spark, ivf, t + "_pq", queries, topK = 10)
        .select($"query_id", $"neighbor_id").as[(Long, Long)]
        .collect().toSet === pqServed)
    } finally for (n <- Seq(t, t + "_rb", t + "_tombstones",
        t + "_pq", t + "_pq_rb", t + "_pq_tombstones"))
      spark.sql(s"DROP TABLE IF EXISTS $n")
  }

  // A small fixture of 8-dim vectors plus, per case, one bad row: a
  // longer vector, a shorter one, and a null one.
  private def vectorCases() = {
    import spark.implicits._
    val dim = 8
    val base = (1 to 40).map(i => i.toLong ->
      Array.tabulate(dim)(j => ((i * 7 + j * 3) % 11).toFloat)).toDF("vec_id", "embedding")
    val bad = Seq(
      Array.fill(dim + 1)(0.5f) -> s"vector has ${dim + 1} dims, expected $dim",
      Array.fill(dim - 1)(0.5f) -> s"vector has ${dim - 1} dims, expected $dim",
      (null: Array[Float]) -> "vector is null")
      .map { case (v, why) => Seq(99L -> v).toDF("vec_id", "embedding") -> why }
    (base, bad)
  }

  private def asQueries(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  test("IVF rejects null and wrong-length vectors by name in fit and every cell assignment") {
    val (base, bad) = vectorCases()
    val ivf = IvfIndex(nlist = 4, nprobe = 2, seed = 1L).fit(base)
    bad.foreach { case (row, why) =>
      Seq[(String, () => Any)](
        "assignCells" -> (() => ivf.assignCells(row, "embedding", 1).collect()),
        "knnJoin corpus" -> (() =>
          ivf.knnJoin(base.unionByName(row), asQueries(base), 5).collect()),
        "knnJoin query" -> (() => ivf.knnJoin(base, asQueries(row), 5).collect()),
        // the dist filter lets Catalyst infer isnotnull on the query vector
        "radiusJoin query" -> (() =>
          ivf.radiusJoin(base, asQueries(row), 1.0).collect())
      ).foreach { case (face, run) =>
        val e = intercept[Exception](run())
        assert(messages(e).contains(s"IVF cell assignment: $why"), s"$face: ${messages(e)}")
      }
    }
    val Seq(longer, _, nul) = bad.map(_._1)
    val e1 = intercept[IllegalArgumentException](
      IvfIndex(nlist = 4, seed = 1L).fit(base.unionByName(longer)))
    assert(e1.getMessage.contains("IVF fit: training vectors in embedding have 8, 9 dims"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IvfIndex(nlist = 4, seed = 1L).fit(base.unionByName(nul)))
    assert(e2.getMessage.contains("IVF fit: a training vector in embedding is null"),
      e2.getMessage)
  }

  test("PQ rejects null and wrong-length vectors by name in fit, encode and knnJoin") {
    val (base, bad) = vectorCases()
    val pq = PqIndex(m = 2, seed = 1L).fit(base)
    val codes = pq.encode(base).select("vec_id", "pq_code")
    bad.foreach { case (row, why) =>
      val e = intercept[Exception](pq.encode(row).collect())
      assert(messages(e).contains(s"PQ encode: $why"), messages(e))
    }
    val Seq(longer, shorter, nul) = bad.map(_._1)
    Seq(longer -> "query 99 has 9 dims, expected 8",
        shorter -> "query 99 has 7 dims, expected 8",
        nul -> "query 99 has a null vector").foreach { case (row, why) =>
      val e = intercept[IllegalArgumentException](
        pq.knnJoin(codes, asQueries(row), 5).collect())
      assert(e.getMessage.contains(s"PQ knnJoin: $why"), e.getMessage)
    }
    val e1 = intercept[IllegalArgumentException](
      PqIndex(m = 2, seed = 1L).fit(base.unionByName(shorter)))
    assert(e1.getMessage.contains("PQ fit: training vectors in embedding have 7, 8 dims"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      PqIndex(m = 2, seed = 1L).fit(base.unionByName(nul)))
    assert(e2.getMessage.contains("PQ fit: a training vector in embedding is null"),
      e2.getMessage)
  }
}
