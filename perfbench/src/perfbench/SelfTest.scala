package perfbench

import graft.ops.Embeddings
import graft.stream.ReviewEvent

/** Feeds each checker a deliberately wrong answer; a checker that
  * accepts it is reported. Pure Scala, no Spark. */
object SelfTest {

  private def mustReject(name: String)(f: => Unit): Option[String] =
    try { f; Some(s"$name: the checker accepted a wrong answer") }
    catch { case _: CheckFailed => None }

  /** A dropped label. */
  def reviewEvents(): Option[String] = {
    val required = Map((1L, "codeowners") -> Set("a"), (1L, "facilitators") -> Set.empty[String],
      (1L, "tech") -> Set("t"))
    val replay = new ReviewReplay(required, Map("a" -> Set("ann"), "t" -> Set("tom")))
    replay(Seq(ReviewEvent(1, "ann", "APPROVED", 1), ReviewEvent(1, "tom", "APPROVED", 2)))
    val want = replay.labels.toSet
    if (want.size != 3) return Some(s"review_events: replay produced labels $want, expected three")
    mustReject("review_events (dropped label)")(ReviewCheck.compare("labels", want - want.head, want))
  }

  /** A missing facilitator team. */
  def depScan(): Option[String] = {
    val want = new SqlRepo(7, nFunctions = 12, nConsumers = 40).expectedFacilitators
    val (f, (path, teams)) = want.toSeq.sortBy(_._1).head
    val got = want.updated(f, (path, teams.drop(1)))
    mustReject("dep_scan (missing facilitator team)")(DepScanCheck.compare("facilitators", got, want))
  }

  /** A swapped neighbour. */
  def searchServe(): Option[String] = {
    val vecs = new Vectors(7)
    val corpus = (0L until 200L).map(id => (id, vecs.vector(id, 0))).toArray
    val q = QueryVec(1000L, vecs.vector(1000L, 1).toSeq)
    val exact = SearchCheck.exactTopK(q.embedding.toArray, corpus, 5)
    val right = exact.zipWithIndex.map { case (id, r) => (q.q_id, r + 1L, id, r * 10L) }
    val ok = SearchCheck.check(right, Seq(q), corpus, 5)
    if (ok != 1.0) return Some(s"search_serve: the exact answer scored recall $ok")
    val swapped = right.updated(0, right(0).copy(_3 = right(2)._3)).updated(2, right(2).copy(_3 = right(0)._3))
      .map(r => if (r._2 == 1L) r.copy(_4 = 20L) else if (r._2 == 3L) r.copy(_4 = 0L) else r)
    mustReject("search_serve (swapped neighbour)")(SearchCheck.check(swapped, Seq(q), corpus, 5))
  }

  /** A perturbed centroid. */
  def corpusBuild(): Option[String] = {
    val vecs = new Vectors(7)
    val grid = (0L until 100L).map(id => id -> CorpusCheck.grid(vecs.vector(id, 0)))
    val want = CorpusCheck.lloyd(grid, 5, 2)
    val c = want.head
    val got = want.updated(0, Embeddings.Centroid(c.j, c.s.updated(0, c.s.head + 1), c.n))
    mustReject("corpus_build (perturbed centroid)")(CorpusCheck.centroids(got, want))
  }

  def runFor(workload: String): Seq[String] = (workload match {
    case "review_events" => reviewEvents()
    case "dep_scan" => depScan()
    case "search_serve" => searchServe()
    case "corpus_build" => corpusBuild()
    case _ => None
  }).toSeq

  def run(): Seq[String] =
    Seq("review_events", "dep_scan", "search_serve", "corpus_build").flatMap(runFor)
}
