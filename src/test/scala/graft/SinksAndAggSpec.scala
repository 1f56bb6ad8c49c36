package graft

import org.apache.spark.sql.functions._
import graft.functions.RecallAggregator
import graft.sources.{Sinks, Tables, VecReader}

class SinksAndAggSpec extends SparkSpec {
  import spark.implicits._

  test("RecallAggregator: typed UDAF with map-side combine semantics") {
    val pairs = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 4L)), // 2/3 hit
      (Seq(9L), Seq(9L)),                 // 1/1
      (Seq.empty[Long], Seq(5L, 6L))      // 0/2
    ).toDS()
    val recall = pairs.select(RecallAggregator.toColumn).head()
    assert(recall === 3.0 / 6.0)
    // associativity: same result at any partitioning
    val recall1 = pairs.repartition(3).select(RecallAggregator.toColumn).head()
    assert(recall1 === recall)
  }

  test("partitioned parquet sink produces prunable directory layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    Sinks.parquetPartitioned(
      Tables.documents(spark, sf0001), dir, Seq("lang"), sortCols = Seq("doc_id"))
    val back = spark.read.parquet(dir)
    assert(back.count() === Tables.documents(spark, sf0001).count())
    // partition pruning: reading one lang touches only that directory
    val one = back.filter($"lang" === "es")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    // physical layout
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("lang=")))
  }

  test("HLL sketch aggregates land within 5% of exact counts") {
    val li = Tables.lineitem(spark, sf0001)
    val r = li.agg(
      approx_count_distinct($"l_partkey").as("approx"),
      countDistinct($"l_partkey").as("exact")).head()
    val (approx, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("bucketed tables co-locate: recurring equi-join plans with no shuffle") {
    // write both sides bucketed on the join key with the same bucket
    // count — the per-query Exchange disappears (paid once at write)
    val o = Tables.orders(spark, sf0001).select($"o_orderkey", $"o_totalprice")
    val l = Tables.lineitem(spark, sf0001).select($"l_orderkey", $"l_extendedprice")
    Sinks.parquetBucketed(o, "graft_orders_b", 8, Seq("o_orderkey"), Seq("o_orderkey"))
    Sinks.parquetBucketed(l, "graft_lineitem_b", 8, Seq("l_orderkey"), Seq("l_orderkey"))
    try {
      val ob = spark.table("graft_orders_b")
      val lb = spark.table("graft_lineitem_b")
      // force a non-broadcast join so the bucket layout is what saves
      // the shuffle (broadcast would hide it at fixture scale)
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = lb.join(ob, lb("l_orderkey") === ob("o_orderkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), plan)
        assert(j.count() === Tables.lineitem(spark, sf0001)
          .join(Tables.orders(spark, sf0001),
            $"l_orderkey" === $"o_orderkey").count())
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }

  private def withSQLConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("csv and json sinks round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink2").toString
    val df = Tables.region(spark, sf0001)
    Sinks.csv(df, s"$dir/csv")
    Sinks.json(df, s"$dir/json")
    assert(spark.read.option("header", "true").csv(s"$dir/csv").count() === df.count())
    assert(spark.read.json(s"$dir/json").count() === df.count())
  }

  test(".vec sink round-trips the reference fixture bit-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec").toString
    val orig = VecReader.read(spark, "/root/reference/data/test.vec", 300)
    Sinks.vec(orig, s"$dir/out.vec")
    // a plain single file, not a Spark output directory
    assert(new java.io.File(s"$dir/out.vec").isFile)
    val head = scala.io.Source.fromFile(s"$dir/out.vec").getLines().next()
    assert(head === s"${orig.count()} 300") // honest header (fixture's lies)
    val back = VecReader.read(spark, s"$dir/out.vec", 300)
    assert(back.count() === orig.count())
    // ids, words, and every float component survive the round-trip
    assert(back.exceptAll(orig).count() === 0)
    assert(orig.exceptAll(back).count() === 0)
  }

  test(".vec round-trips a generated file: ids, words and float bits survive, bad rows skip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_gen")
    // the header misstates the row count (the reference fixture's header
    // reads `100 300`); floats are written at full precision, including -0.0,
    // the smallest subnormal and 9-significant-digit values; the word of
    // the second row is a bare `,`; the last row has the wrong dimension,
    // so the rows read keep dense ids 0..n-1
    val rows = Seq(
      "the" -> Seq("0.1", "-0.0", "1.4E-45", "0.333333343"),
      "," -> Seq("-2.71828175", "1.17549435E-38", "3.40282347E38", "-0.0"),
      "zeta" -> Seq("0.123456789", "16777217", "-1.00000001e-7", "42"))
    val lines = "100 4" +: rows.map { case (w, fs) => (w +: fs).mkString(" ") } :+
      "short 1.0 2.0 3.0"
    val in = dir.resolve("in.vec")
    java.nio.file.Files.write(in, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Seq[Int])] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits)))
        .sortBy(_._1)
    val expected = rows.zipWithIndex.map { case ((w, fs), i) =>
      (i.toLong, w, fs.map(f => java.lang.Float.floatToRawIntBits(java.lang.Float.parseFloat(f))))
    }
    val orig = VecReader.read(spark, in.toString, 4)
    assert(bits(orig) === expected)
    val out = dir.resolve("out.vec").toString
    Sinks.vec(orig, out)
    assert(scala.io.Source.fromFile(out).getLines().next() === "3 4")
    assert(bits(VecReader.read(spark, out, 4)) === expected)
  }

  test("morton code matches a bit-twiddling reference implementation") {
    def ref(x: Long, y: Long, bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val rng = new scala.util.Random(7)
    val pts = Seq.tabulate(50)(_ => (rng.nextInt(65536).toLong, rng.nextInt(65536).toLong))
    val df = pts.toDF("x", "y")
      .withColumn("z", Sinks.mortonCode2($"x", $"y", bits = 16))
    val got = df.select("x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z === ref(x, y, 16), s"($x,$y)") }
  }

  test("z-order clusters both dimensions: chunk bounding boxes shrink vs single-key sort") {
    // uniform 64×64 grid; file = 128 consecutive rows after each sort.
    // A z-sorted chunk is a compact rectangle; an x-sorted chunk spans
    // the FULL y range. Summed bounding-box area is the proxy for
    // parquet row-group min/max skipping power on 2-D range predicates.
    val n = 64
    val grid = for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong)
    def chunkArea(sorted: Seq[(Long, Long)]): Long =
      sorted.grouped(128).map { c =>
        val (xs, ys) = (c.map(_._1), c.map(_._2))
        (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      }.sum
    val zcodes = grid.toDF("x", "y")
      .withColumn("z", Sinks.mortonCode2($"x", $"y", bits = 6))
      .orderBy("z").select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val zArea = chunkArea(zcodes)
    val xArea = chunkArea(grid.sortBy(identity))
    // 64×64 grid in 128-row chunks: z-order gives 16×8 rectangles
    // (area 128/chunk); x-sort gives 2×64 stripes (area 128/chunk too —
    // but the Y SPAN is what kills y-predicate skipping). Compare the
    // max per-dimension span instead of area for the sharper claim:
    def maxYSpan(sorted: Seq[(Long, Long)]): Long =
      sorted.grouped(128).map(c => c.map(_._2).max - c.map(_._2).min).max
    assert(maxYSpan(zcodes) <= 15, s"z-order y-span ${maxYSpan(zcodes)}")
    assert(maxYSpan(grid.sortBy(identity)) === 63) // x-sort: full y range
    assert(zArea <= xArea)
  }

  test("parquetZOrdered writes a readable sorted layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val df = Tables.part(spark, sf0001)
    Sinks.parquetZOrdered(df, s"$dir/part_z", "p_partkey", "p_size")
    val back = spark.read.parquet(s"$dir/part_z")
    assert(back.count() === df.count())
    assert(back.columns.toSet === df.columns.toSet)
  }

  test("parquetHilbert3 writes a readable lossless layout with tight per-file boxes (r12)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_h3").toString
    val df = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("sec"),
        pmod(col("event_id"), lit(1024L)).as("shard"))
      .localCheckpoint()
    Sinks.parquetHilbert3(df, s"$dir/ev_h3",
      x = ("user_id", 0L, 99999L),
      y = ("sec", 1704067200L, 1735689599L),
      z = ("shard", 0L, 1023L), bits = 10, maxRecordsPerFile = 200L)
    val back = spark.read.parquet(s"$dir/ev_h3")
    assert(back.count() === df.count())
    assert(back.exceptAll(df).unionAll(df.exceptAll(back)).isEmpty,
      "layout write must be lossless")
    // the whole point of the curve: each output file's bucketed
    // bounding box is tighter than the data's full range on at least
    // the leading dimensions (a linear sort would leave two of three
    // spans at full width)
    val spans = back
      .select(input_file_name().as("f"),
        graft.operators.ZOrder.bucket(col("user_id"), 0L, 99999L, 10).as("bx"))
      .groupBy(col("f")).agg((max(col("bx")) - min(col("bx"))).as("sx"))
      .agg(max(col("sx"))).head().getLong(0)
    assert(spans < 1023L, s"per-file x-span $spans is the full range")
  }

  test("JSONL roundtrip is lossless on hostile strings; corrupt lines quarantine, not crash") {
    import graft.sources.JsonlSource
    import spark.implicits._
    val nasty = Seq(
      (1L, "quote \" backslash \\ tab \t newline \n done", "en", "web", 40L),
      (2L, "unicode é中😀 and control ", "zh", "web", 20L),
      (3L, "", "de", "books", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    JsonlSource.write(nasty, s"$dir/docs")
    val back = JsonlSource.readDocumentsClean(spark, s"$dir/docs")
      .orderBy($"doc_id").collect()
    val orig = nasty.orderBy($"doc_id").collect()
    assert(back.toSeq === orig.toSeq, "JSON write+read must be lossless")
    assert(JsonlSource.corruptCount(spark, s"$dir/docs") === 0L)
    // hand-broken file: one good line, one truncated JSON, one blank
    val badDir = java.nio.file.Files.createTempDirectory("graft_jsonl_bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(badDir, "part-0.json"),
      """{"doc_id": 10, "text": "ok", "lang": "en", "source": "web", "n_chars": 2}
        |{"doc_id": 11, "text": "trunca
        |
        |""".stripMargin)
    // collect, not count: a bare count() over the clean filter prunes
    // every data column and hits Spark's corrupt-column-only
    // restriction (SPARK-21610) — the quarantine path exists for that
    val cleanRows = JsonlSource.readDocumentsClean(spark, badDir).collect()
    assert(cleanRows.length === 1)
    assert(cleanRows(0).getLong(0) === 10L)
    assert(JsonlSource.corruptCount(spark, badDir) === 1L)
    // the quarantine view keeps the raw line
    val corrupt = JsonlSource.corruptRecords(spark, badDir)
      .select($"raw_line").head().getString(0)
    assert(corrupt.contains("trunca"))
  }

  test("CSV roundtrip: dialect pins quoting/null/empty; ragged rows quarantine") {
    import graft.sources.CsvSource
    import spark.implicits._
    // commas, quotes, the null token itself, null vs empty string
    val nasty = Seq(
      (1L, "comma, inside \"quoted\" text", "en", "web", 26L),
      (2L, "\\N looks like the null token", "zh", "web", 28L),
      (3L, "", "de", "books", 0L),
      (4L, null.asInstanceOf[String], "fr", "books", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    CsvSource.write(nasty, s"$dir/docs")
    val back = CsvSource.readDocumentsClean(spark, s"$dir/docs")
      .orderBy($"doc_id").collect()
    assert(back.toSeq === nasty.orderBy($"doc_id").collect().toSeq,
      "CSV write+read must be lossless, null and empty kept apart")
    assert(back(2).getString(1) === "" && back(3).isNullAt(1))
    assert(CsvSource.corruptCount(spark, s"$dir/docs") === 0L)
    // hand-broken file: one good row, one ragged (non-numeric id) row
    val badDir = java.nio.file.Files.createTempDirectory("graft_csv_bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(badDir, "part-0.csv"),
      "\"doc_id\",\"text\",\"lang\",\"source\",\"n_chars\"\n" +
        "\"10\",\"ok\",\"en\",\"web\",\"2\"\n" +
        "\"eleven\",\"bad id\",\"en\",\"web\",\"6\"\n")
    val cleanRows = CsvSource.readDocumentsClean(spark, badDir).collect()
    assert(cleanRows.length === 1 && cleanRows(0).getLong(0) === 10L)
    assert(CsvSource.corruptCount(spark, badDir) === 1L)
  }

  test("ORC checked read round-trips; schema drift throws with the diff") {
    import graft.sources.OrcSource
    val docs = Seq(
      (1L, "plain", "en", "web", 5L),
      (2L, null.asInstanceOf[String], "de", "web", 0L),
      (3L, "", "en", "books", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    OrcSource.write(docs, s"$dir/docs")
    val back = OrcSource.readDocuments(spark, s"$dir/docs")
      .orderBy($"doc_id").collect()
    assert(back.toSeq === docs.orderBy($"doc_id").collect().toSeq,
      "ORC write+read must be lossless, null and empty kept apart")
    assert(back(1).isNullAt(1) && back(2).getString(1) === "")
    // drift: a renamed column must throw, not null-fill
    docs.withColumnRenamed("lang", "language")
      .write.mode("overwrite").orc(s"$dir/drifted")
    val ex = intercept[IllegalArgumentException] {
      OrcSource.readDocuments(spark, s"$dir/drifted")
    }
    assert(ex.getMessage.contains("language") &&
      ex.getMessage.contains("schema drift"))
  }

  test("sharded sink: one file per shard, id-deterministic routing, manifest from disk") {
    val docs = spark.range(0, 200)
      .select($"id".as("doc_id"), concat(lit("t"), $"id").as("text"),
        lit(3).as("n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Sinks.sharded(docs, s"$dir/out", nShards = 8, idCol = "doc_id")
    // one data file per shard directory — the fixed-count contract
    val root = new java.io.File(s"$dir/out")
    val shardDirs = root.listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length === 8)
    shardDirs.foreach { sd =>
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${sd.getName} has ${files.length} files")
    }
    // routing matches the hash function; nothing lost or duplicated
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 200)
    assert(back.filter(
      $"shard" =!= Sinks.hashShard($"doc_id", 8)).isEmpty)
    // manifest certifies the on-disk content
    val m = Sinks.shardManifest(spark, s"$dir/out").collect()
    assert(m.map(_.getLong(1)).sum === 200)
    // a re-write with different parallelism lands ids identically
    Sinks.sharded(docs.repartition(7), s"$dir/out2", nShards = 8,
      idCol = "doc_id")
    val m2 = Sinks.shardManifest(spark, s"$dir/out2").collect()
    assert(m.toSeq === m2.toSeq)
  }

  test("shardedRefresh rewrites only touched shards; result equals a full rewrite; emptied shards vanish") {
    def mkDocs(ids: Seq[Long], tag: String) =
      ids.map(i => (i, s"$tag$i", 2L)).toDF("doc_id", "text", "n_chars")
    val docs = mkDocs(0L until 300L, "t")
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    val out = s"$dir/out"
    Sinks.sharded(docs, out, nShards = 8, idCol = "doc_id")
    def fileNames(): Map[String, Seq[String]] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq.sorted)
        .toMap
    val before = fileNames()

    val upserts = mkDocs(Seq(5L, 6L, 301L), "v2-") // 2 edits + 1 add
    val deletes = Seq(7L).toDF("doc_id")
    Sinks.shardedRefresh(spark, out, upserts, deletes,
      nShards = 8, idCol = "doc_id")
    val after = fileNames()
    val touched = Seq(5L, 6L, 301L, 7L).toDF("doc_id")
      .select(Sinks.hashShard($"doc_id", 8).as("s"))
      .distinct().collect().map(r => s"shard=${r.getLong(0)}").toSet
    after.keySet.union(before.keySet).foreach { sh =>
      if (touched(sh))
        assert(before(sh) !== after(sh), s"$sh should have been rewritten")
      else
        assert(before(sh) === after(sh), s"$sh must keep its exact files")
    }
    // content = the full-rewrite truth
    val expected = docs.filter(!$"doc_id".isin(5L, 6L, 7L))
      .unionByName(mkDocs(Seq(5L, 6L, 301L), "v2-"))
    val got = spark.read.parquet(out)
      .select($"doc_id", $"text", $"n_chars").orderBy($"doc_id").collect()
    assert(got.toSeq === expected.orderBy($"doc_id").collect().toSeq)

    // a refresh under a different modulus would scan the wrong
    // directories and silently duplicate ids — the sidecar makes it loud
    val exN = intercept[IllegalArgumentException] {
      Sinks.shardedRefresh(spark, out, upserts, deletes,
        nShards = 16, idCol = "doc_id")
    }
    assert(exN.getMessage.contains("nShards"))

    // the refresh's read of the prior layout is partition-PRUNED: the
    // touched-shard literals reach the scan as PartitionFilters, so
    // only those directories are listed and read
    val scan = Sinks.refreshScan(spark, out, Seq(1L, 3L))
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard"), scan)

    // emptying a shard removes its directory (dynamic overwrite alone
    // would leave the stale files in place)
    val victim = spark.read.parquet(out)
      .filter($"shard" === 0).select($"doc_id")
    assert(victim.count() > 0)
    Sinks.shardedRefresh(spark, out,
      upserts = victim.limit(0).withColumn("text", lit(""))
        .withColumn("n_chars", lit(0L)),
      deleteIds = victim, nShards = 8, idCol = "doc_id")
    assert(!new java.io.File(s"$out/shard=0").exists())
    assert(spark.read.parquet(out).filter($"shard" === 0).isEmpty)
  }

  test("insertInto appears ONLY inside Sinks.insertPartitionsDynamic " +
      "(the locked dynamic-overwrite invariant, r15)") {
    // Name kept from when Sinks.insertPartitionsDynamic was the one
    // insertInto site; the prefix-partitioned count-store layout that
    // needed it is gone, so no insertInto may appear at all. A
    // partitioned insertInto honours only the SESSION-wide
    // partitionOverwriteMode (not the writer option shardedRefresh
    // uses), so one would bring back a shared conf toggle and the
    // global lock it needed.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p))
        if (src.contains(".insertInto(")) Some(p.toString) else None
      }.toSeq
    assert(offenders.isEmpty,
      s"insertInto under src/main: $offenders — write managed tables " +
        "with saveAsTable (Sinks.parquetTable / parquetBucketed) and " +
        "partitioned paths with a writer-level partitionOverwriteMode")
  }

  test("the only mains are Bench, Verify, Main and the four kept tools") {
    // A one-off measurement main is compiled by every build and run by
    // nothing. A new measurement belongs in perfbench/ (end to end and
    // per layer) or, for Spark job counts, ProbeJobs.
    import scala.jdk.CollectionConverters._
    val mainDef = """def\s+main\s*\(\s*\w+\s*:\s*Array\[String\]\s*\)""".r
    val objectDef = """\bobject\s+(\w+)""".r
    val mains = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".")
        mainDef.findAllMatchIn(src).map { m =>
          val obj = objectDef.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
            .fold(s"<no object in $p>")(_.group(1))
          pkg.getOrElse("") + obj
        }
      }.toSet
    val expected = Set("graft.Bench", "graft.Verify", "graft.Main",
      "graft.tools.DumpPlans", "graft.tools.ProbeJobs",
      "graft.tools.GenBpeAssets", "graft.tools.GenUnigramAssets")
    assert(mains === expected,
      s"added mains: ${(mains -- expected).toSeq.sorted.mkString(", ")}; " +
        s"missing mains: ${(expected -- mains).toSeq.sorted.mkString(", ")} — " +
        "new measurements belong in perfbench/ or ProbeJobs, not in a new main")
  }
}
