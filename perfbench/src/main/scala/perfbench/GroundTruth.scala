package perfbench

/** Exact nearest neighbours in plain Scala doubles, independent of every
  * graft kernel. Used only outside timed regions, to check answers. */
object GroundTruth {

  /** Squared L2 distance, accumulated left to right in doubles. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dimension mismatch ${a.length} vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  def l2(a: Array[Float], b: Array[Float]): Double = math.sqrt(l2sq(a, b))

  /** Exact top-k of `q` over `corpus` (id, vector) by (distance, id):
    * returns (id, distance) pairs, nearest first. */
  def topK(corpus: Array[(Long, Array[Float])], q: Array[Float], k: Int)
      : Array[(Long, Double)] = {
    // bounded max-heap keyed by (dist, id): the root is the worst kept
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    corpus.foreach { case (id, v) =>
      val d = l2sq(v, q)
      if (heap.size < k) heap.enqueue((d, id))
      else if (ord.lt((d, id), heap.head)) { heap.dequeue(); heap.enqueue((d, id)) }
    }
    heap.dequeueAll[(Double, Long)].reverse.map { case (d, id) => (id, math.sqrt(d)) }.toArray
  }

  /** Fraction of `truth`'s ids found in `answer`. */
  def recall(answer: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else answer.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /** One answer row as the public search functions return it. */
  final case class Hit(id: Long, rank: Long, dist: Double)

  /** Problems with one top-k answer, empty when it is well formed: `k` hits
    * ranked 1..k, distances non-decreasing, and each reported distance equal
    * to the benchmark's own L2 for that id up to the API's 4-dp rounding. */
  def checkAnswer(hits: Seq[Hit], k: Int, q: Array[Float],
      vectorOf: Long => Option[Array[Float]]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (hits.size != k) problems += s"${hits.size} hits, expected $k"
    if (hits.map(_.rank) != (1 to hits.size).map(_.toLong))
      problems += s"ranks ${hits.map(_.rank).mkString(",")}"
    if (hits.zip(hits.drop(1)).exists { case (a, b) => b.dist < a.dist })
      problems += "distances decrease"
    hits.foreach { h =>
      vectorOf(h.id) match {
        case None => problems += s"unknown id ${h.id}"
        case Some(v) =>
          val own = l2(v, q)
          if (math.abs(own - h.dist) > 0.5e-4 + 1e-9)
            problems += f"id ${h.id} dist ${h.dist}%.4f, own L2 $own%.6f"
      }
    }
    problems.result()
  }

  /** True when `answer` is exactly the exact top-k `truth`, allowing only
    * order or membership swaps between neighbours whose distances are equal
    * to 1e-9 (relative), where the tie-break by id may see rounding. */
  def sameAsTruth(answer: Seq[Long], truth: Seq[(Long, Double)],
      distOf: Long => Double): Boolean =
    answer == truth.map(_._1) || (answer.size == truth.size &&
      answer.zip(truth).forall { case (id, (tid, td)) =>
        id == tid || math.abs(distOf(id) - td) <= 1e-9 * math.max(1.0, td)
      })
}
