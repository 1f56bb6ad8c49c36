package perfbench

/** Output checks shared by the workloads. A failed check throws
  * [[CheckFailed]], which fails the operation that produced the output. */
object Checks {
  val K = 10

  /** Squared euclidean distance, accumulated in double in index order:
    * the engine's kernels use the same arithmetic, so equality is exact. */
  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** One query's top-k: at most k rows, distinct ids, ascending by
    * (dist, id), every dist equal to the recomputed squared distance. */
  def topK(run: Run, hits: Seq[(Long, Double)], q: Array[Float], vecOf: Long => Array[Float]): Unit = {
    run.check(hits.size <= K, s"${hits.size} rows > k=$K")
    run.check(hits.map(_._1).distinct.size == hits.size, s"duplicate neighbor ids in ${hits.map(_._1)}")
    hits.sliding(2).foreach {
      case Seq((ia, da), (ib, db)) =>
        run.check(da < db || (da == db && ia < ib), s"not ascending: ($ia,$da) before ($ib,$db)")
      case _ =>
    }
    hits.foreach { case (id, d) =>
      val v = vecOf(id)
      run.check(v != null, s"neighbor $id is not a stored vector")
      val exact = sqDist(v, q)
      run.check(d == exact, s"dist $d for neighbor $id, recomputed $exact")
    }
  }

  /** Rows of a ranked top-k frame (query_id, neighbor_id, dist, rank)
    * grouped by query, in rank order; ranks must run 1..n. */
  def byQuery(run: Run, rows: Seq[(Long, Long, Double, Int)]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_._1).map { case (qid, rs) =>
      val sorted = rs.sortBy(_._4)
      run.check(sorted.map(_._4) == (1 to sorted.size), s"query $qid ranks ${sorted.map(_._4)}")
      qid -> sorted.map(r => (r._2, r._3))
    }

  /** Share of the exact top-k ids the approximate result found. */
  def recall(approx: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double = {
    val hit = exact.iterator.map { case (q, ids) => ids.toSet.intersect(approx.getOrElse(q, Nil).toSet).size }.sum
    hit.toDouble / math.max(1, exact.valuesIterator.map(_.size).sum)
  }

  /** Rows of a (query_id, neighbor_id, dist, rank) frame. */
  def rankedRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("query_id", "neighbor_id", "dist", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
}
