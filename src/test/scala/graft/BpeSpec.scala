package graft

import graft.functions.Bpe
import org.scalatest.funsuite.AnyFunSuite

/** BPE trainer semantics: distributed == driver-local reference BPE, the
  * classic Sennrich example behaves, merges are deterministic, and the
  * encoder applies the learned table. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** reference implementation: textbook BPE on a word-count dict with the
    * same tie-break (max count, then lexicographic pair) */
  private def localBpe(words: Map[String, Long], merges: Int)
      : Seq[(String, String, Long)] = {
    var dict: Map[Vector[String], Long] = words.map { case (w, c) =>
      (w.toVector.map(_.toString) :+ Bpe.Eow) -> c }
    val out = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < merges && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (sym, c) =>
        sym.sliding(2).foreach {
          case Vector(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), n) = pairs.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        out += ((l, r, n))
        def merge(sym: Vector[String]): Vector[String] = {
          val acc = Vector.newBuilder[String]
          var last: String = null
          sym.foreach { s =>
            if (last == l && s == r) { last = l + r }
            else { if (last != null) acc += last; last = s }
          }
          if (last != null) acc += last
          acc.result()
        }
        dict = dict.groupMapReduce { case (sym, _) => merge(sym) }(_._2)(_ + _)
        i += 1
      }
    }
    out.result()
  }

  test("train matches the reference BPE on a mixed corpus") {
    import spark.implicits._
    val docs = Seq("low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest widest").toDF("text")
    val got = Bpe.train(docs, merges = 8).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    val words = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val want = localBpe(words.toMap, 8)
    assert(got.toSeq == want, s"\n got: ${got.toSeq}\nwant: $want")
    // the classic outcome: 'es' and 'est' merges dominate (newest+widest)
    assert(got.take(2).map(x => x._1 + x._2).toSeq == Seq("es", "est"))
  }

  test("driver-local merge loop equals the distributed rounds") {
    import spark.implicits._
    val docs = Seq("low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest widest", "aa ab aa ba bb").toDF("text")
    val local = TestSession.withForcedDistributed(false)(
      Bpe.train(docs, merges = 10).collect()).map(_.toString).toSeq
    val dist = TestSession.withForcedDistributed(true)(
      Bpe.train(docs, merges = 10).collect()).map(_.toString).toSeq
    assert(local == dist, s"\nlocal: $local\ndist:  $dist")
  }

  test("train is deterministic across partitionings") {
    import spark.implicits._
    val docs = Seq("aa ab aa ba bb aa ab", "ba ba bb aa").toDF("text")
    val a = Bpe.train(docs, merges = 4).collect().map(_.toString).sorted
    val b = Bpe.train(docs.repartition(7), merges = 4).collect()
      .map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("pairStats equals the trainer's first-round argmax input") {
    import spark.implicits._
    val docs = Seq("low lower newest").toDF("text")
    val top = Bpe.pairStats(docs, k = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // each word count 1: pairs l-o (2), o-w (2), e-w? 'lower': l o w e r; 'newest': n e w e s t
    // l-o: low, lower = 2; o-w: low, lower = 2; w-e: lower('we'), newest('we') = 2
    assert(top.toSet.map((x: (String, String, Long)) => (x._1, x._2)) ==
      Set(("l", "o"), ("o", "w"), ("w", "e")))
    assert(top.forall(_._3 == 2L))
  }

  test("encode applies merges leftmost-first and respects word boundaries") {
    import spark.implicits._
    val docs = Seq("aaab aa").toDF("text")
    // merges: (a,a) -> aa, then (aa,a) -> aaa
    val enc = Bpe.encode(docs, Seq(("a", "a"), ("aa", "a")))
      .select("bpe").collect()(0).getSeq[String](0)
    // 'aaab' -> chars a a a b </w> -> aa a b </w> -> aaa b </w>
    // 'aa'   -> a a </w> -> aa </w>  (no merge across the word boundary)
    assert(enc.toList == List("aaa", "b", Bpe.Eow, "aa", Bpe.Eow))
  }
}
