package graft.operators

import graft.SparkTestSession
import graft.queries.SharedStages.ContainmentMaxDf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumps"),        // exact dup of 1
    (3L, "the quick brown fox leaps high"),   // near-dup of 1
    (4L, "completely different words entirely here"),
    (5L, "xy zz")                             // too short for 3-shingles
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id representative and counts dups") {
    val d = docs.withColumn("fp", TextAnalysis.fingerprint($"text"))
    val r = Dedup.exact(d, "fp", "doc_id")
      .select($"representative_id", $"n_dups").as[(Long, Long)].collect().toSet
    assert(r == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("shingles: n-1 overlapping trigrams; short docs yield none") {
    val sh = Dedup.shingles(docs).as[(Long, String)].collect()
    assert(sh.count(_._1 == 1L) == 3) // 5 tokens -> 3 trigrams
    assert(sh.filter(_._1 == 1L).map(_._2).toSet ==
      Set("the quick brown", "quick brown fox", "brown fox jumps"))
    assert(!sh.exists(_._1 == 5L))
  }

  test("shingleArray: column form keeps multiplicity and empty-for-short") {
    val byDoc = docs
      .select($"doc_id", Dedup.shingleArray($"text").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(byDoc(1L) ==
      Seq("the quick brown", "quick brown fox", "brown fox jumps"))
    assert(byDoc(5L).isEmpty)
    // a repeated trigram appears twice — multiplicity preserved
    val rep = Seq((9L, "a b c a b c a"))
      .toDF("doc_id", "text")
      .select(Dedup.shingleArray($"text").as("sh"))
      .as[Seq[String]].head()
    assert(rep.count(_ == "c a b") == 1 && rep.count(_ == "a b c") == 2)
  }

  test("identical docs have identical minhash signatures in every band") {
    val sigs = Dedup.minhashSignatures(Dedup.shingles(docs), bands = 4)
    val byDoc = sigs.as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L) != byDoc(4L))
  }

  test("lsh candidates include the exact pair and exclude unrelated docs") {
    val pairs = Dedup.lshCandidates(
      Dedup.minhashSignatures(Dedup.shingles(docs), bands = 4))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("capped candidates: mega-buckets route to boilerplate, true near-dups keep full recall") {
    // 40 template docs (shared boilerplate — the bucket that grows WITH a
    // real corpus) + 5 true near-dup pairs with pair-local vocabulary.
    val boiler = "terms of service apply to all pages on this site please read carefully before proceeding further thank you"
    val boilerDocs = (100L until 140L).map(i => (i, boiler))
    val truePairs = (0 until 5).flatMap { p =>
      val base = (1 to 12).map(w => s"p${p}w$w").mkString(" ")
      val twin = (1 to 12).map(w => if (w == 12) s"p${p}x" else s"p${p}w$w").mkString(" ")
      Seq((200L + 2 * p, base), (201L + 2 * p, twin))
    }
    val all = (boilerDocs ++ truePairs).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(Dedup.shingles(all), bands = 4)
    val (pairs, mega) = Dedup.lshCandidatesCapped(sigs, maxBucketDocs = 8)
    val got = pairs.as[(Long, Long)].collect().toSet
    val expected = (0 until 5).map(p => (200L + 2 * p, 201L + 2 * p)).toSet
    assert(expected.subsetOf(got), s"recall loss on true near-dups: ${expected -- got}")
    assert(got.forall { case (a, b) => a >= 200L && b >= 200L },
      s"boilerplate must never pair: ${got.filter(_._1 < 200L)}")
    val megaDocs = mega.select($"doc_id").as[Long].collect().toSet
    assert(megaDocs == (100L until 140L).toSet,
      "all-and-only template docs route to the boilerplate path")
    assert(mega.select($"n_docs").as[Long].collect().toSet == Set(40L))
    // capped output ⊆ uncapped output (the cap only removes, never invents)
    val uncapped = Dedup.lshCandidates(sigs).as[(Long, Long)].collect().toSet
    assert(got.subsetOf(uncapped))
    assert(uncapped.size - got.size >= 40 * 39 / 2,
      "the mega bucket's quadratic pair flood must be gone")
  }

  test("jaccard is 1.0 for identical docs and in (0,1) for near-dups") {
    val sh = Dedup.shingles(docs)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.jaccardVerify(pairs, sh)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.0 && j((1L, 3L)) < 1.0)
  }

  test("jaccardVerify with a supplied sizes relation is identical to the default") {
    // the staged-sizes path (SharedStages.shingleSetSizes) must be a pure
    // substitution: same rows, same values, for every column
    val sh = Dedup.shingles(docs)
    val dsh = sh.select($"doc_id", $"shingle").distinct()
    val sizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("set_size"))
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"n_inter", $"n_union", $"size_a",
          $"size_b", $"jaccard")
        .collect().map(_.toSeq).toSet
    val default = rows(Dedup.jaccardVerify(pairs, sh))
    val staged = rows(Dedup.jaccardVerify(pairs, dsh, preDistincted = true,
      sizesDf = Some(sizes)))
    assert(default == staged)
    val cdefault = Dedup.containmentVerify(pairs, sh)
      .select($"doc_a", $"doc_b", $"cont_a_ppm", $"cont_b_ppm")
      .collect().map(_.toSeq).toSet
    val cstaged = Dedup.containmentVerify(pairs, dsh, preDistincted = true,
      sizesDf = Some(sizes))
      .select($"doc_a", $"doc_b", $"cont_a_ppm", $"cont_b_ppm")
      .collect().map(_.toSeq).toSet
    assert(cdefault == cstaged)
  }

  test("jaccardVerify and containmentVerify refuse a mis-shaped sizes relation") {
    val dsh = Dedup.shingles(docs).select($"doc_id", $"shingle").distinct()
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val extra = dsh.groupBy($"doc_id")
      .agg(count(lit(1)).as("set_size"), max($"shingle").as("top"))
    val renamed = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    for (bad <- Seq(extra, renamed)) {
      val e1 = intercept[IllegalArgumentException](Dedup.jaccardVerify(
        pairs, dsh, preDistincted = true, sizesDf = Some(bad)))
      assert(e1.getMessage.contains("exactly the columns (doc_id, set_size)"),
        e1.getMessage)
      val e2 = intercept[IllegalArgumentException](Dedup.containmentVerify(
        pairs, dsh, preDistincted = true, sizesDf = Some(bad)))
      assert(e2.getMessage.contains("exactly the columns (doc_id, set_size)"),
        e2.getMessage)
    }
  }

  test("simhash: equal for identical text, 16-bit range, unequal for distinct") {
    val h = Dedup.simhash16(docs).as[(Long, Int)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h.values.forall(v => v >= 0 && v < 65536))
    assert(h(1L) != h(4L))
  }

  test("containment: quote-in-large-doc scores cont≈1 where jaccard→0") {
    // doc 20 embeds ALL of doc 10's text inside 200 unique filler tokens —
    // the quote/subset shape: containment(10→20) = 1, jaccard ≈ 3/201.
    val quote = "alpha beta gamma delta epsilon"
    val filler = (1 to 200).map(i => s"filler$i").mkString(" ")
    val cdocs = Seq(
      (10L, quote),
      (20L, s"$filler $quote"),
      (30L, "unrelated words that share nothing at all with others here")
    ).toDF("doc_id", "text")
    val dsh = Dedup.shingles(cdocs).distinct()
    val cand = Dedup.rareShingleCandidates(dsh, maxDf = ContainmentMaxDf, preDistincted = true)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((10L, 20L)), s"rare-shingle blocking must find the quote pair: $cand")
    assert(!cand.contains((10L, 30L)) && !cand.contains((20L, 30L)))
    val v = Dedup.containmentVerify(Seq((10L, 20L)).toDF("doc_a", "doc_b"),
      dsh, preDistincted = true)
      .select($"cont_a_ppm", $"cont_b_ppm", $"jaccard").head()
    assert(v.getLong(0) == 1000000L) // every shingle of 10 is inside 20
    assert(v.getLong(1) < 100000L)
    assert(v.getDouble(2) < 0.05, "jaccard flattens exactly this pair")
    // and the Jaccard-LSH candidate path misses it (deterministic for this
    // fixed text: no band minhash collides), which is WHY q113 exists
    val lshCand = Dedup.lshCandidates(
      Dedup.minhashSignatures(Dedup.shingles(cdocs), bands = 4))
      .as[(Long, Long)].collect().toSet
    assert(!lshCand.contains((10L, 20L)),
      "if this ever fires, the constructed pair banded together — pick new filler")
  }

  test("rare candidates from a PERSISTED postings stage equal the one-shot form") {
    // the q113 staging split: rarePostings persisted between blocking's
    // aggregate and the pair self-join must be a pure substitution
    val sh = Dedup.shingles(docs)
    val dsh = sh.select($"doc_id", $"shingle").distinct()
    val oneShot = Dedup.rareShingleCandidates(dsh, maxDf = ContainmentMaxDf, preDistincted = true)
      .as[(Long, Long)].collect().toSet
    val postings = Dedup.rarePostings(dsh, maxDf = ContainmentMaxDf, preDistincted = true).persist()
    try {
      val staged = Dedup.rareCandidatesFromPostings(postings)
        .as[(Long, Long)].collect().toSet
      assert(oneShot == staged)
      assert(staged.nonEmpty, "fixture must produce at least one rare pair")
    } finally postings.unpersist()
  }
}
