package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session memo-caches' staleness contract (r8): regenerating a
  * corpus UNDER THE SAME PATH within one session must be a cache MISS
  * — queries after the regeneration answer from the NEW corpus, not
  * the memoized frames of the old one (the footgun CLAUDE.md/SURVEY
  * documented for labelsCache/fitCache/pairsCache/gramsCache). Keys
  * carry [[Memo.fingerprint]] of the dir's file inventory, so the
  * rewrite changes the key.
  */
class MemoSpec extends AnyFunSuite {
  import TestSpark.{spark, withTmpDir}

  test("fingerprint changes when a corpus is regenerated in place") {
    withTmpDir("memo-fp") { dir =>
      assert(Memo.fingerprint(spark, dir + "/nope") == "absent")
      GenData.generate(spark, dir, 200, 150)
      val f1 = Memo.fingerprint(spark, dir)
      assert(Memo.fingerprint(spark, dir) == f1, "fingerprint not stable")
      GenData.generate(spark, dir, 350, 220)
      assert(Memo.fingerprint(spark, dir) != f1,
        "regenerated corpus kept the same fingerprint")
    }
  }

  test("superseded snapshots are evicted; URI-illegal paths fingerprint as local") {
    withTmpDir("memo-evict") { dir =>
      // a '%' in the path throws out of URI.create — must fall back to
      // the local walk, not crash every memoized query over the dir
      val pct = java.nio.file.Paths.get(dir, "100%done")
      java.nio.file.Files.createDirectories(pct)
      java.nio.file.Files.write(pct.resolve("a.txt"), "x".getBytes)
      val f = Memo.fingerprint(spark, pct.toString)
      assert(f != "absent" && Memo.fingerprint(spark, pct.toString) == f,
        s"percent-path fingerprint unstable or absent: $f")

      // eviction: an in-place regeneration must not accumulate one
      // entry per superseded snapshot for the same (session, dir, sub)
      val memo = new Memo.DirMemo[String]
      var calls = 0
      def access(tag: String) = memo.getOrElseUpdate(spark, dir, "t") { calls += 1; tag }
      GenData.generate(spark, dir, 50, 30)
      assert(access("g1") == "g1" && access("ignored") == "g1" && calls == 1)
      GenData.generate(spark, dir, 80, 30)
      assert(access("g2") == "g2" && calls == 2,
        "regenerated dir served the stale entry")
      assert(memo.entries == 1,
        s"superseded snapshot entry not evicted: ${memo.entries} entries")
    }
  }

  test("regenerating a corpus in place invalidates the label/pair/fit memo family") {
    withTmpDir("memo-stale") { dir =>
      GenData.generate(spark, dir, 400, 300)
      // warm every cache under test: shingle/pair/label (q65),
      // minhash pairs (q42), embedding pairs + geometry diag (q44,
      // q151), ivf fit (q45)
      assert(operators.Dedup.q65(spark, dir).count() == 400L)
      val mh1 = operators.Dedup.q42(spark, dir).count()
      val sp1 = operators.Dedup.q44(spark, dir).count()
      assert(operators.Dedup.q45(spark, dir).count() == 300L)
      assert(operators.Dedup.q151(spark, dir).count() > 0)

      // regenerate IN PLACE with different sizes/content
      GenData.generate(spark, dir, 700, 450)

      // corpus-row-counting consumers must see the NEW corpus
      assert(operators.Dedup.q65(spark, dir).count() == 700L,
        "q65 served stale labels after in-place regeneration")
      assert(operators.Dedup.q45(spark, dir).count() == 450L,
        "q45 served a stale ivf fit after in-place regeneration")
      // pair frames must equal a fresh uncached computation on the
      // new corpus (and, since the corpora differ, not the old one's)
      val mh2 = operators.Dedup.q42(spark, dir)
      val mhRef = operators.Dedup.mhPairsUncached(spark, dir)
      assert(mh2.select("d1", "d2").exceptAll(mhRef.select("d1", "d2")).isEmpty &&
        mhRef.select("d1", "d2").exceptAll(mh2.select("d1", "d2")).isEmpty,
        "q42 pair memo is stale after in-place regeneration")
      val sp2 = operators.Dedup.q44(spark, dir)
      val spRef = operators.Dedup.semPairsUncached(spark, dir)
      assert(sp2.select("id1", "id2").exceptAll(spRef.select("id1", "id2")).isEmpty &&
        spRef.select("id1", "id2").exceptAll(sp2.select("id1", "id2")).isEmpty,
        "q44 pair memo is stale after in-place regeneration")
      // different corpus sizes make identical pair counts overwhelmingly
      // unlikely — guard the guards: the two generations must differ
      assert(mh1 != mh2.count() || sp1 != sp2.count(),
        "regenerated corpus produced identical pair sets; test is vacuous")
    }
  }
}
