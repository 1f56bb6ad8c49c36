package graft

import org.apache.spark.sql.functions._

import graft.ann.AnnForest
import graft.sources.VecReader

/** CLI entry point mirroring the reference driver (X3,
  * reference src/main.rs:138-175): load a fastText `.vec` corpus, build
  * the forest with the reference's default hyperparameters (DIM=300,
  * TOP_K=10, NUM_TREES=50, MAX_NODE_SIZE=5, src/main.rs:139-142), run
  * the visualization point-lookups for "do, now, because, here"
  * (src/main.rs:157), print neighbor words with sqrt distance (the
  * reference's display transform, src/main.rs:91), and time the build
  * and query phases with correct averaging (the reference's printed
  * average divides by 1000 instead of the query count,
  * src/main.rs:77 — ours divides by the real count).
  *
  * Usage: runMain graft.Main [vecPath] [dim]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/reference/data/test.vec")
    val dim = if (args.length > 1) args(1).toInt else 300
    val topK = 10
    val numTrees = 50
    val maxNodeSize = 5

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val t0 = System.nanoTime()
    val vecs = VecReader.read(spark, path, dim).cache()
    val n = vecs.count()
    println(f"Parsed $n vectors in ${(System.nanoTime() - t0) / 1e9}%.3f s")

    val t1 = System.nanoTime()
    val model = AnnForest(numTrees = numTrees, maxLeafSize = maxNodeSize, seed = 42L)
      .fit(vecs, "id", "embedding")
    println(f"Built $numTrees trees (max leaf $maxNodeSize) in ${(System.nanoTime() - t1) / 1e9}%.3f s")

    val words = Seq("do", "now", "because", "here")
    val queries = vecs.filter(col("word").isin(words: _*))
      .select(col("id").as("query_id"), col("word").as("query_word"), col("embedding").as("qvec"))

    val t2 = System.nanoTime()
    val res = model.searchBatch(queries.select(col("query_id"), col("qvec")), topK = topK)
    val named = res
      .join(queries.select(col("query_id"), col("query_word")), "query_id")
      .join(vecs.select(col("id"), col("word").as("neighbor_word")),
        res("neighbor_id") === col("id"))
      .select(col("query_word"), col("rank"), col("neighbor_word"),
        sqrt(col("dist")).as("distance"))
      .orderBy(col("query_word"), col("rank"))
      .collect()
    val nQueries = math.max(1, named.map(_.getString(0)).distinct.length)
    println(f"Ran $nQueries queries in ${(System.nanoTime() - t2) / 1e9}%.3f s " +
      f"(${(System.nanoTime() - t2) / 1e9 / nQueries}%.4f s/query)")

    named.groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach { case (w, rows) =>
      println(s"$w:")
      rows.sortBy(_.getInt(1)).foreach { r =>
        println(f"  ${r.getInt(1)}%2d. ${r.getString(2)}%-20s ${r.getDouble(3)}%.4f")
      }
    }

    // Bulk k-NN self-join over the full corpus (the reference's
    // sample_idx = None mode, src/main.rs:100-123, src/main.rs:169) —
    // on the bucketed fast path: one routing pass, no store broadcast.
    val t3 = System.nanoTime()
    val pairs = model.knnSelfJoinBucketed(vecs, topK, "id", "embedding").count()
    println(f"Bulk k-NN self-join: $pairs (query, neighbor) pairs " +
      f"in ${(System.nanoTime() - t3) / 1e9}%.3f s")
    spark.stop()
  }
}
