package graft.refine

/** Cosine-similarity cluster merging (SURVEY §2.9 M7 + §2.3 J3) —
  * re-expressing the reference's merge loop
  * (ref 02_build_models_with_auto_lables._optimised_clusters.R:861-879).
  *
  * The reference's `merge_map[merge_map == j] <- i` in i<j scan order is
  * deliberately reproduced: it is first-wins CHAINING, not transitive
  * closure (if cos(1,2)>t merges 2→1, a later cos(2,3)>t retargets
  * nothing because nothing maps to 2 anymore — §7.4.4). Centers are k×d
  * with k ≤ ~50 (SURVEY §7.4.11), so the pairwise pass runs on the
  * driver over [[ModelRefresh.summary]]'s centers; the resulting k-row
  * map is applied by [[ModelRefresh.relabel]].
  */
object CosineMerge {

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** First-wins chained merge map over centers, i<j ascending-id scan
    * order. Returns old id → surviving representative id. */
  def mergeMap(centers: Map[Int, Array[Double]], threshold: Double = 0.9): Map[Int, Int] = {
    val ids = centers.keys.toArray.sorted
    val mm = scala.collection.mutable.Map(ids.toIndexedSeq.map(i => i -> i): _*)
    for {
      ii <- ids.indices
      jj <- (ii + 1) until ids.length
      i = ids(ii); j = ids(jj)
      if cos(centers(i), centers(j)) > threshold
    } ids.foreach(x => if (mm(x) == j) mm(x) = i)
    mm.toMap
  }
}
