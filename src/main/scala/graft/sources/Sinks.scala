package graft.sources

import org.apache.spark.sql.DataFrame

/** Sink helpers. The engine's primary "sink" is the DataFrame return
  * value (composable); these are the materialization patterns for
  * pipeline outputs at scale.
  */
object Sinks {

  /** Partitioned parquet: directory layout = partition pruning for every
    * downstream reader. Sort within partitions for run-length/dictionary
    * friendly pages. */
  def parquetPartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    sorted.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Knuth multiplicative hash of an integer id in [0, 2^32) — the
    * q47/q49/q72 split arithmetic. Deliberately NOT
    * [[graft.operators.WeightedSample.portableHash]]'s CRT 64-bit key:
    * sharding and checksumming need UNIFORMITY, not injectivity (ids
    * 1000003 apart landing in the same shard is harmless balance-wise;
    * a weighted sample's colliding priorities are not), and the
    * [[shardManifest]] checksum's exactness bound — BIGINT sum of
    * per-row terms — requires terms < 2^32 to stay exact to 2^31 rows
    * per shard. */
  private[graft] def shardHash(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(pmod(id, lit(1000003L)) * lit(2654435761L), lit(4294967296L))
  }

  /** [[shardHash]] reduced to N shards: exact BIGINT arithmetic,
    * engine-neutral, reproducible at any parallelism with no RNG
    * state. */
  def hashShard(id: org.apache.spark.sql.Column,
      nShards: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(shardHash(id), lit(nShards.toLong))
  }

  /** Deterministic training-shard delivery: the corpus written as
    * `path/shard=K/` with exactly ONE file per shard — the fixed-count
    * layout a training job's data loader consumes (shard count, not
    * file count, is the contract). The shard of a row is a pure
    * function of its id ([[hashShard]]), so re-runs and backfills land
    * every doc in the same shard; `repartition(col("shard"))` routes
    * each shard's rows to a single task before the partitioned write,
    * which is what bounds files-per-shard to one. Rows are sorted by
    * id within the shard for run-length/dictionary-friendly pages. */
  def sharded(df: DataFrame, path: String, nShards: Int,
      idCol: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("shard", hashShard(col(idCol), nShards))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    writeNShards(df.sparkSession, path, nShards)
  }

  /** The layout's shard count as a sidecar (`_graft_nshards`) — the
    * routing function's modulus IS the layout contract, and a refresh
    * run with a different count would scan the wrong directories and
    * silently duplicate upserted ids (old copy in shard h%16, new in
    * h%32). The sidecar makes that a loud error instead. */
  private def writeNShards(spark: org.apache.spark.sql.SparkSession,
      path: String, nShards: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_nshards")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(nShards.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readNShards(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_nshards")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      Some(buf.toString("UTF-8").trim.toInt)
    } finally in.close()
  }

  /** INCREMENTAL shard refresh — the delta-delivery form of
    * [[sharded]]: apply upserts + deletes to an existing shard layout,
    * rewriting ONLY the shard directories the delta's ids hash into.
    * At 100 TB this is the difference between a corpus-sized rewrite
    * per drop and O(touched shards): the id→shard function is pure, so
    * the affected-shard set is computable from the delta alone (≤
    * nShards literals — a partition-pruned read, never a full scan),
    * and Spark's DYNAMIC partition-overwrite replaces exactly the
    * partitions present in the written data. Honest bound: uniform
    * hashing scatters ids, so a delta of k ids touches min(k, nShards)
    * shards — the win holds when k ≪ nShards (takedown/edit waves
    * against a 10⁴-10⁵-shard production layout; ProbeShardRefresh
    * measured both regimes), while a corpus-sized delta degrades to
    * the full rewrite it semantically is. The merged frame is
    * checkpoint-settled before the write (overwriting a path that is
    * also being read is the classic self-read failure); its size is
    * bounded by the touched shards, not the corpus. A shard whose last
    * row is deleted is removed explicitly (dynamic overwrite only
    * touches partitions it WRITES — an emptied shard would otherwise
    * keep serving stale files). Ids must be unique across
    * upserts ∪ deletes. Untouched shard directories keep their exact
    * files (SinksAndAggSpec pins this). */
  def shardedRefresh(spark: org.apache.spark.sql.SparkSession,
      path: String, upserts: DataFrame, deleteIds: DataFrame,
      nShards: Int, idCol: String): Unit = {
    import org.apache.spark.sql.functions._
    readNShards(spark, path).foreach(n => require(n == nShards,
      s"shardedRefresh: layout at $path was written with nShards=$n, " +
        s"refresh called with $nShards — the routing modulus is the " +
        "layout contract (a mismatch would duplicate upserted ids)"))
    val up = upserts.withColumn("shard", hashShard(col(idCol), nShards))
    val gone = deleteIds.select(col(idCol))
    val touched = up.select(col(idCol))
      .unionByName(gone).distinct().localCheckpoint()
    val shards = touched.select(hashShard(col(idCol), nShards).as("s"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    if (shards.isEmpty) return
    val old = refreshScan(spark, path, shards)
    val kept = old.join(touched, Seq(idCol), "left_anti")
    val next = kept.unionByName(up.select(kept.columns.map(col).toIndexedSeq: _*))
      .localCheckpoint() // settle BEFORE overwriting what we read
    next.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(path)
    // shards whose content is now empty never appear in `next` and
    // dynamic overwrite leaves them — clear them explicitly
    val alive = next.select(col("shard")).distinct()
      .collect().map(_.getLong(0)).toSet
    // path-owned FS, not the default one — the layout can live on a
    // different filesystem than fs.defaultFS
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    shards.filterNot(alive).foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"shard=$s"), true)
    }
  }

  /** The refresh's read of the prior layout — ≤ nShards literal values
    * against the Hive partition column, so only the touched shard
    * DIRECTORIES are listed and read (static partition pruning, visible
    * as PartitionFilters; SinksAndAggSpec pins the shape). Package-
    * private for exactly that pin. */
  private[graft] def refreshScan(spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path).filter(col("shard").isin(shards: _*))
  }

  /** The delivery manifest read back FROM THE WRITTEN SHARDS (not from
    * the source frame — the manifest certifies what landed on disk):
    * per shard, row count, total payload chars, and an order-
    * insensitive exact-integer id checksum. Hash-compared by q183
    * against the same summary computed from the original table, so a
    * lost/duplicated/misrouted row breaks the gate. */
  def shardManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "doc_id",
      charsCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.functions._
    // id_checksum: per-row terms are < 2^32 ([[shardHash]]), so the
    // BIGINT sum is exact up to 2^31 rows PER SHARD — size nShards so
    // shards stay under that (any layout a data loader can consume
    // already does); past it the non-ANSI sum would wrap where the
    // oracle's promotes.
    spark.read.parquet(path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol)).as("total_chars"),
        sum(shardHash(col(idCol))).as("id_checksum"))
      .orderBy(col("shard"))
  }

  /** Drop a managed table AND its on-disk location. `DROP TABLE` alone
    * is not enough across JVMs: a prior process's saveAsTable leaves
    * the table directory under the warehouse, a fresh in-memory
    * catalog doesn't know the table, and a later `mode("overwrite")
    * .saveAsTable` fails with LOCATION_ALREADY_EXISTS (overwrite can
    * only drop tables the catalog knows about). Every managed-table
    * write in the engine goes through this first, so standing indexes
    * rebuild cleanly in a new session over an old warehouse. */
  def dropTable(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(
      wh, table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc))
      require(fs.delete(loc, true),
        s"dropTable: could not delete stale location $loc")
  }

  /** Plain managed parquet table, replaced location-safely (see
    * [[dropTable]] for why overwrite alone is not enough). */
  def parquetTable(df: DataFrame, table: String): Unit = {
    dropTable(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Bucketed + sorted table: the standing-corpus layout. Both sides of
    * a recurring equi-join written with the same bucket count and key
    * hash-align on disk, so every subsequent join (or groupBy on the
    * bucket key) plans WITHOUT an Exchange — the shuffle is paid once at
    * write time, not per query. This is how a 100 TB vector store wants
    * its (tree_id, leaf_id)-routed buckets persisted: the ANN join's
    * corpus-side shuffle disappears from every query batch.
    *
    * Requires saveAsTable (bucket metadata lives in the catalog). */
  def parquetBucketed(
      df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    dropTable(df.sparkSession, table)
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Morton (Z-order) code: interleaves the low `bits` bits of two
    * non-negative integer columns into one BIGINT, so sorting by the
    * code clusters rows that are close in BOTH dimensions. The
    * fail-loud RAW-DOMAIN face of the curve (inputs must already fit
    * in `bits`); [[graft.operators.ZOrder.zvalue2]] is the
    * declared-range face for wide domains (it buckets first), and both
    * share ONE dilation: [[graft.operators.ZOrder.spread]]'s 5-step
    * mask cascade — static bit arithmetic inside whole-stage codegen
    * (this replaced the original `aggregate`-fold interleave, whose
    * higher-order lambda ran interpreted per row and per bit). The q66
    * oracle folds bit-by-bit in DuckDB; bit positions are disjoint, so
    * its `+`-fold equals the cascade's `|` composition value-for-value. */
  def mortonCode2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // fail loud on out-of-range inputs instead of silently truncating:
    // a key ≥ 2^bits would alias with keys 2^bits apart and quietly
    // destroy the bounding-box property the layout exists for (callers
    // with wider keys mask explicitly, e.g. q66's p_partkey % 65536);
    // negatives would sign-extend through shiftright into garbage.
    val max = 1L << bits
    def checked(c: org.apache.spark.sql.Column) = {
      val l = c.cast("long")
      when(l < 0 || l >= max, raise_error(concat(
        lit(s"mortonCode2: input outside [0, $max): "), l.cast("string"))))
        .otherwise(l)
    }
    // bits ≤ 31, matching zvalue2's 2·bits ≤ 62 rule: at bits = 32,
    // y's bit 31 would interleave into bit position 63 — the SIGN bit
    // — so top-quadrant codes would go negative and a signed Long sort
    // would no longer follow the curve (negatives sort first),
    // silently breaking the clustering contract.
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    graft.operators.ZOrder.spread(checked(x))
      .bitwiseOR(shiftleft(graft.operators.ZOrder.spread(checked(y)), 1))
  }

  /** Z-ordered parquet: a total sort by the interleaved code gives each
    * output file a contiguous z-range, i.e. a small bounding box in
    * (x, y) — so parquet row-group min/max stats prune scans filtered
    * on EITHER or BOTH dimensions. The multi-column analog of sorting
    * by one key (which leaves the other column's per-file range
    * unbounded); the layout answer to range predicates at 100 TB where
    * partitionBy on a high-cardinality key would explode the directory
    * tree. The sort is one range-partitioned exchange, paid once at
    * write. */
  def parquetZOrdered(
      df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int = 16, maxRecordsPerFile: Long = 0L): Unit = {
    import org.apache.spark.sql.functions.col
    val w = df
      .withColumn("__z", mortonCode2(col(xCol), col(yCol), bits))
      .orderBy(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
     else w).parquet(path)
  }

  /** HILBERT-3D-ordered parquet (round-12) — the writer face of
    * [[graft.operators.ZOrder.hilbertIndex3]], and the DEFAULT curve
    * for an entity × time × shard layout: ProbeR17X3D measured
    * hilbert3 writes at 3.0 s vs zorder3's 4.2 s for the same 10M
    * rows AND half the mixed-box blind-spot footprint (the no-jump
    * curve keeps each output file's (x, y, z) bounding box tight, so
    * parquet row-group stats prune range filters on ANY of the three
    * dimensions). Same declared-range discipline as the curve itself
    * (caller-declared [min, max] per dimension — deterministic and
    * append-stable, never data quantiles), same one-exchange cost
    * shape as [[parquetZOrdered]]: a single range-partitioned sort
    * paid once at write. */
  def parquetHilbert3(df: DataFrame, path: String,
      x: (String, Long, Long), y: (String, Long, Long),
      z: (String, Long, Long), bits: Int = 10,
      maxRecordsPerFile: Long = 0L): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.operators.ZOrder
    val w = df
      .withColumn("__h", ZOrder.hilbertIndex3(
        ZOrder.bucket(col(x._1), x._2, x._3, bits),
        ZOrder.bucket(col(y._1), y._2, y._3, bits),
        ZOrder.bucket(col(z._1), z._2, z._3, bits), bits))
      .orderBy(col("__h"))
      .drop("__h")
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
     else w).parquet(path)
  }

  /** Single-header CSV export (driver-friendly small results). */
  def csv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Line-delimited JSON export. */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** fastText `.vec` export — the reference's input format
    * (header `count dim`, then `word c1 … cN` per line,
    * reference src/main.rs:11-40), written as ONE file at `path` so the
    * reference loader (and [[VecReader.read]]) can consume it directly.
    * Floats are rendered with Float.toString, the shortest decimal that
    * parses back to the identical f32 — the round-trip is bit-exact
    * except for non-canonical NaN payloads (toString collapses them to
    * "NaN"). Rows are emitted in ascending `idCol` order (ids may be
    * any non-null longs, dense or not); a read-back assigns fresh
    * position-based ids 0..n-1, which coincide with the originals iff
    * they were already dense from 0 — the reference format simply has
    * no id column to preserve.
    *
    * The format is inherently single-file sequential (one global header,
    * position-significant lines) — this is an interop/export utility,
    * not a scale path; at scale, store vectors as parquet. */
  def vec(df: DataFrame, path: String,
      wordCol: String = "word", vecCol: String = "embedding",
      idCol: String = "id"): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val fmt = udf { (w: String, v: Seq[Float]) =>
      val sb = new StringBuilder(w)
      v.foreach { f => sb.append(' ').append(java.lang.Float.toString(f)) }
      sb.toString
    }
    val hd = df.select(count(lit(1)), count(col(idCol)), first(size(col(vecCol)))).head()
    val n = hd.getLong(0)
    require(hd.getLong(1) == n, s"Sinks.vec: $idCol contains nulls — " +
      "line position is id in this format, every row needs an id")
    val dim = if (hd.isNullAt(2)) 0 else hd.getInt(2)
    // a dedicated header rank (not a sentinel id) keeps the header first
    // for ANY id values, including negative ones
    val header = spark.range(1)
      .select(lit(0).as("__hdr"), lit(0L).as("__ord"), lit(s"$n $dim").as("value"))
    val body = df.select(lit(1).as("__hdr"), col(idCol).cast("long").as("__ord"),
      fmt(col(wordCol), col(vecCol)).as("value"))
    val tmp = path + ".tmp.dir"
    header.unionByName(body)
      .coalesce(1).sortWithinPartitions(col("__hdr"), col("__ord"))
      .select(col("value"))
      .write.mode("overwrite").text(tmp)
    // promote the single part file to a plain file at `path`; fail loud
    // on any step — silently returning with no output (or after deleting
    // the only copy of the data) is the one unacceptable outcome
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(hconf)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(tmp + "/part-*"))
    require(parts != null && parts.length == 1,
      s"Sinks.vec: expected exactly one part file under $tmp")
    val dest = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(dest)) require(fs.delete(dest, true),
      s"Sinks.vec: could not replace existing $path")
    require(fs.rename(parts(0).getPath, dest),
      s"Sinks.vec: rename ${parts(0).getPath} -> $dest failed (output left in $tmp)")
    fs.delete(tmpPath, true)
  }
}
