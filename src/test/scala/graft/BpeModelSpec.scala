package graft

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

/** Property-based model check of the BPE plane (driver-side — no
  * Spark needed, so hundreds of random corpora are cheap). Seeded
  * generation, same discipline as KvModelSpec. The generator biases
  * words into a small alphabet over few letters so pair collisions
  * (the interesting case for merge learning) are frequent, and skews
  * counts Zipf-ishly so ties and near-ties both occur. */
class BpeModelSpec extends AnyFunSuite {

  private val wordGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 8)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
  } yield cs.mkString

  private val tableGen: Gen[Array[(String, Long)]] = for {
    n <- Gen.chooseNum(1, 12)
    words <- Gen.listOfN(n, wordGen)
    counts <- Gen.listOfN(n, Gen.oneOf(1L, 1L, 2L, 3L, 5L, 20L))
  } yield words.distinct.zip(counts).toArray

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  test("every word in the fitted table round-trips through encode/detokenize") {
    (1L to 300L).foreach { seed =>
      val table = sample(tableGen, seed)
      val m = Bpe.learnMerges(table, numMerges = 20)
      table.foreach { case (w, _) =>
        val enc = Bpe.encodeWord(w, m.ranks)
        assert(Bpe.detokenize(enc.toIndexedSeq) === w, s"seed=$seed word=$w")
        // the sentinel ends the word exactly once, always last
        assert(enc.last.endsWith(Bpe.EndOfWord), s"seed=$seed word=$w")
        assert(enc.init.forall(!_.contains(Bpe.EndOfWord)), s"seed=$seed word=$w")
      }
    }
  }

  test("merge lists are prefix-monotone in the merge budget") {
    (1L to 150L).foreach { seed =>
      val table = sample(tableGen, seed)
      val small = Bpe.learnMerges(table, numMerges = 6)
      val large = Bpe.learnMerges(table, numMerges = 24)
      assert(large.merges.take(small.merges.length) === small.merges,
        s"seed=$seed")
    }
  }

  test("token counts never increase with more merges, and bottom out at chars+1") {
    (1L to 150L).foreach { seed =>
      val table = sample(tableGen, seed)
      val m0 = Bpe.learnMerges(table, numMerges = 0)
      val m8 = Bpe.learnMerges(table, numMerges = 8)
      val m32 = Bpe.learnMerges(table, numMerges = 32)
      table.foreach { case (w, _) =>
        val n0 = Bpe.encodeWord(w, m0.ranks).length
        val n8 = Bpe.encodeWord(w, m8.ranks).length
        val n32 = Bpe.encodeWord(w, m32.ranks).length
        assert(n0 === w.length + 1, s"seed=$seed word=$w")
        assert(n8 <= n0 && n32 <= n8, s"seed=$seed word=$w")
        assert(n32 >= 1)
      }
    }
  }

  test("a pair using a merged symbol always ranks after the merge that created it") {
    // the invariant that makes one-at-a-time lowest-rank encoding
    // exactly the textbook merge-all-occurrences algorithm
    (1L to 150L).foreach { seed =>
      val table = sample(tableGen, seed)
      val m = Bpe.learnMerges(table, numMerges = 32)
      val born = m.merges.zipWithIndex.map { case ((l, r), i) => (l + r, i) }.toMap
      m.merges.zipWithIndex.foreach { case ((l, r), i) =>
        born.get(l).foreach(j => assert(j < i, s"seed=$seed left $l"))
        born.get(r).foreach(j => assert(j < i, s"seed=$seed right $r"))
      }
    }
  }

  test("learning is insensitive to word-table order") {
    (1L to 100L).foreach { seed =>
      val table = sample(tableGen, seed)
      val a = Bpe.learnMerges(table, numMerges = 16)
      val b = Bpe.learnMerges(table.reverse, numMerges = 16)
      assert(a.merges === b.merges, s"seed=$seed")
    }
  }

  test("markup corpora round-trip: a word spelling out the old printable sentinel cannot forge it") {
    // r12 review: with a printable sentinel like "</w>" a corpus word
    // literally spelling it fused, after enough merges, into a symbol
    // string-equal to the sentinel and corrupted detokenization. The
    // whitespace sentinel is provably absent from every word.
    val table: Array[(String, Long)] = Array(
      ("</w>", 20L), ("x</w>y", 7L), ("<w>", 5L), ("plain", 3L))
    val m = Bpe.learnMerges(table, numMerges = 40)
    table.foreach { case (w, _) =>
      val enc = Bpe.encodeWord(w, m.ranks)
      assert(Bpe.detokenize(enc.toIndexedSeq) === w, s"word=$w")
    }
    // multi-word stream round-trips too
    val stream = table.flatMap { case (w, _) => Bpe.encodeWord(w, m.ranks) }
    assert(Bpe.detokenize(stream.toIndexedSeq) === table.map(_._1).mkString(" "))
  }

  test("non-BMP characters segment as whole code points, never lone surrogates") {
    // r12 review: per-UTF-16-char segmentation split emoji into
    // unpaired surrogates that every UTF-8 boundary (parquet, Spark
    // strings) silently replaces with '?'
    val smile = new String(Character.toChars(0x1F642)) // 🙂
    val table: Array[(String, Long)] = Array((s"${smile}ab", 10L), (s"ab$smile", 4L))
    val m = Bpe.learnMerges(table, numMerges = 16)
    assert(m.baseChars.contains(smile))
    m.baseChars.foreach(c =>
      assert(!c.exists(Character.isSurrogate) || c.codePointCount(0, c.length) == 1,
        s"lone surrogate symbol: ${c.map(_.toInt.toHexString)}"))
    table.foreach { case (w, _) =>
      val enc = Bpe.encodeWord(w, m.ranks)
      enc.foreach(sym => assert(
        !Character.isLowSurrogate(sym.head) && !Character.isHighSurrogate(sym.last),
        s"symbol boundary splits a surrogate pair in $w"))
      assert(Bpe.detokenize(enc.toIndexedSeq) === w)
    }
  }

  test("learned merges never cross word boundaries") {
    (1L to 100L).foreach { seed =>
      val table = sample(tableGen, seed)
      val m = Bpe.learnMerges(table, numMerges = 32)
      m.merges.foreach { case (l, r) =>
        // the sentinel can only ever be the RIGHT side's suffix: once
        // a symbol ends with </w> nothing may merge onto its right
        assert(!l.contains(Bpe.EndOfWord) || l.endsWith(Bpe.EndOfWord))
        assert(!l.endsWith(Bpe.EndOfWord) || r.isEmpty,
          s"seed=$seed merge across boundary: ($l,$r)")
      }
    }
  }
}
