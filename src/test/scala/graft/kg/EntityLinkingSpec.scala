package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.DedupOps
import Model._

class EntityLinkingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Norms the packed shingle key must keep apart or together exactly as
    * the shingle strings do: lengths 0-3 (whole-string shingles), repeated
    * 3-grams, NUL and U+FFFF at the 16-bit edges, surrogate pairs and lone
    * surrogates, non-ASCII digits. */
  private val edgeNorms = Seq("", "a", "ab", "abc", "abcd", "aa", "aaa", "aaaa",
    "aaaaaa", "abab", "ababab", "\u0000", "\u0000\u0000", "\u0000a", "a\u0000",
    "\uFFFF", "\uFFFF\uFFFF\uFFFF", "\uFFFFab", "\uD83D\uDE00", "x\uD83D\uDE00",
    "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00", "\uD83D", "\uDE00\uD83D",
    "٣٤٥", "٣٤٥٦", "१२३ ४५", "entity 12", "the entity 12", "entity-12")

  private def sameBits(a: Double, b: Double) =
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)

  private def reference(a: String, b: String) =
    DedupOps.jaccardSets(EntityLinking.shingles(a), EntityLinking.shingles(b))

  test("packed Jaccard equals the shingle-string-set Jaccard bit for bit") {
    val rng = new scala.util.Random(7)
    val alphabet = "ab \u0000\uFFFF\uD83D\uDE00٣१"
    val random = Seq.fill(300)(
      Seq.fill(rng.nextInt(9))(alphabet(rng.nextInt(alphabet.length))).mkString)
    val norms = (edgeNorms ++ random).toIndexedSeq
    for (a <- norms; b <- norms) {
      val got = EntityLinking.jaccard(a, b)
      assert(sameBits(got, reference(a, b)), s"jaccard(${a.toList}, ${b.toList}) = $got")
    }
    norms.foreach { n =>
      val packed = EntityLinking.packedShingles(n)
      assert(packed.length == EntityLinking.shingles(n).distinct.length, n.toList)
      assert(packed.sliding(2).forall(p => p.length < 2 || p(0) < p(1)), n.toList)
    }
    assert(EntityLinking.jaccard("", "") == 1.0)
    assert(EntityLinking.jaccard("aaaaaa", "aaa") == 1.0)
    assert(EntityLinking.jaccard("ab", "abc") == 0.0)
  }

  /** The string-set matching loop [[EntityLinking.localSurfaceMap]] replaced,
    * kept sequential as the reference definition. */
  private def naiveSurfaceMap(surfaces: Array[String],
      dictArr: Array[DictEntry]): Array[(String, String, String)] = {
    import EntityLinking._
    val byNorm = dictArr.groupBy(_.surface)
    val bandIdx = dictArr.flatMap(d => bands(minhash(shingles(d.surface))).map(_ -> d))
      .groupBy(_._1).map { case (bh, es) => bh -> es.map(_._2) }
    surfaces.flatMap { s =>
      val norm = normalize(s)
      byNorm.get(norm) match {
        case Some(entries) => entries.toSeq.map(e => (s, e.entity_iri, "exact"))
        case None =>
          val nsh = shingles(norm)
          val scored = bands(minhash(nsh))
            .flatMap(bh => bandIdx.getOrElse(bh, Array.empty[DictEntry]))
            .distinct
            .map(d => (DedupOps.jaccardSets(nsh, shingles(d.surface)), d.entity_iri))
            .filter(_._1 >= JACCARD_THRESHOLD)
          if (scored.isEmpty) Nil else List((s, scored.max._2, "lsh"))
      }
    }
  }

  test("localSurfaceMap equals the string-set reference, duplicates and ties included") {
    val ns = "http://kb.example/test/"
    val extra = Array(
      DictEntry("entity alpha", ns + "alpha-1"),
      DictEntry("entity alpha", ns + "alpha-2"),
      DictEntry("entity alpha", ns + "alpha-1"), // duplicate entry
      // "entity beta" scores 9/10 against both → the larger IRI must win
      DictEntry("entity betas", ns + "beta-a"),
      DictEntry("xentity beta", ns + "beta-b"),
      DictEntry("", ns + "empty"),
      DictEntry("ab", ns + "short"))
    val base = PagesSource.dictionaryLocal.toArray
    val dict = base.take(1000) ++ extra ++ base.drop(1000) ++ base.take(50)
    val surfaces = Array("Entity Alpha", "the entity alpha", "entity beta", "AB", "",
      "!!", "ab!", "\uD83D\uDE00 entity 7", "entity ٣") ++
      (0 until 2000).flatMap(e => PagesSource.surfaceVariants(e) :+ s"entity $e$e") ++
      (0 until 300).map(i => s"no such thing $i")
    val got = EntityLinking.localSurfaceMap(surfaces, dict)
    val want = naiveSurfaceMap(surfaces, dict)
    assert(got.sameElements(want), s"${got.length} rows vs ${want.length}")
    assert(got.count(_._1 == "Entity Alpha") == 3)
    assert(got.contains(("the entity alpha", ns + "alpha-2", "lsh")))
    assert(got.contains(("entity beta", ns + "beta-b", "lsh")))
    assert(got.exists(_._3 == "lsh") && got.exists(_._3 == "exact"))
  }

  test("linkedCount equals run(...).count() on both sides of the gate") {
    val triples = TripleExtraction.run(PagesSource.pages(spark, 300))
    val want = EntityLinking.run(triples).count()
    assert(want > 0)
    assert(EntityLinking.linkedCount(triples) == want)
    assert(EntityLinking.linkedCount(triples, maxLocal = 0) == want)
  }
}
