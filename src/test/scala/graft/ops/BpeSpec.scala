package graft.ops

import graft.SparkSpec
import graft.functions.functions.{bpe_merge_pair, bpe_segment}
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the worked example from Sennrich et al. (ACL'16), section 3.2
  private def sennrich = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    .toDF("word", "freq")

  test("train reproduces the Sennrich worked example merge order") {
    val merges = Bpe.train(sennrich, nMerges = 5)
    assert(merges == Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("driver fast path and distributed loop learn identical merges") {
    val docs = Tables.documents(spark, sfDir).limit(120)
    val words = Bpe.wordFreqs(docs)
    val driver = Bpe.train(words, nMerges = 12)
    val distributed = Bpe.train(words, nMerges = 12, driverMaxTypes = 0L)
    assert(driver == distributed)
    assert(driver.size == 12)
  }

  /** The safe-batch rule (maximal symbol-disjoint ranked prefix,
    * shrunk past count ties with the first excluded row) must be
    * EXACTLY order-equivalent to one-merge-per-job — on real text and
    * at every batch size.
    */
  test("batched merges are order-identical to one-at-a-time merges") {
    val docs = Tables.documents(spark, sfDir).limit(120)
    val words = Bpe.wordFreqs(docs)
    val driver = Bpe.train(words, nMerges = 20)
    val oneAtATime = Bpe.train(words, nMerges = 20, driverMaxTypes = 0L, batchSize = 1)
    val batched4 = Bpe.train(words, nMerges = 20, driverMaxTypes = 0L, batchSize = 4)
    val batched64 = Bpe.train(words, nMerges = 20, driverMaxTypes = 0L, batchSize = 64)
    assert(oneAtATime == driver)
    assert(batched4 == driver, "batchSize=4 diverged from sequential")
    assert(batched64 == driver, "batchSize=64 diverged from sequential")
  }

  /** Tie-heavy randomized corpora (5-letter alphabet → constant count
    * collisions) drive the batch through its conflict-stop and
    * boundary-shrink paths; output must still match sequential.
    */
  test("batched == sequential on randomized tie-heavy corpora") {
    val rng = new scala.util.Random(20260813L)
    for (trial <- 1 to 3) {
      val words = (1 to 40)
        .map(_ => (1 to (1 + rng.nextInt(4))).map(_ => ('a' + rng.nextInt(5)).toChar).mkString)
        .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
        .toSeq.toDF("word", "freq")
      val sequential = Bpe.train(words, nMerges = 8, minCount = 1, driverMaxTypes = 0L, batchSize = 1)
      val batched = Bpe.train(words, nMerges = 8, minCount = 1, driverMaxTypes = 0L, batchSize = 4)
      assert(batched == sequential, s"trial $trial: $batched != $sequential")
    }
  }

  /** The point of batching: pair-count rounds (Spark jobs) ≪ merges.
    * A corpus whose top pairs are symbol-disjoint with globally
    * distinct counts (12 words over disjoint 2-letter alphabets, each
    * "xyxy" so its (x,y) count 2f beats its own chain-mates at f)
    * must learn all 12 merges in ONE round. Real text conflicts at
    * the letter level early on, so there the assertion is the strict
    * saving, not merges/batchSize (measured on a 160k-type table:
    * 48→22 rounds, 2× wall; PLANS.md "BPE training at scale").
    */
  test("batching bounds the number of pair-count rounds") {
    val alpha = "abcdefghijklmnopqrstuvwx"
    val disjoint = (0 until 12).map { i =>
      val (x, y) = (alpha(2 * i).toString, alpha(2 * i + 1).toString)
      (x + y + x + y, 1000L - 3L * i)
    }.toDF("word", "freq")
    val driver = Bpe.train(disjoint, nMerges = 12, minCount = 1)
    val batched = Bpe.train(disjoint, nMerges = 12, minCount = 1,
      driverMaxTypes = 0L, batchSize = 16)
    assert(batched == driver)
    assert(batched.size == 12)
    assert(Bpe.lastDistributedRounds == 1,
      s"12 disjoint merges should batch into 1 round, took ${Bpe.lastDistributedRounds}")
    // one-at-a-time really does cost one round per merge (the baseline
    // the batch is saving)
    Bpe.train(disjoint, nMerges = 5, minCount = 1, driverMaxTypes = 0L, batchSize = 1)
    assert(Bpe.lastDistributedRounds == 5)
    // real corpus text: early letter-level merges conflict, but the
    // round count must still be strictly below one-per-merge
    val words = Bpe.wordFreqs(Tables.documents(spark, sfDir).limit(200))
    val real = Bpe.train(words, nMerges = 20, driverMaxTypes = 0L, batchSize = 8)
    assert(real.size == 20)
    assert(Bpe.lastDistributedRounds < 20,
      s"expected <20 rounds for 20 merges, got ${Bpe.lastDistributedRounds}")
  }

  /** Supplementary characters (here U+1D11E MUSICAL SYMBOL G CLEF, two
    * UTF-16 code units) must stay ONE training symbol: a code-unit
    * split would learn merges over surrogate halves — invalid subwords
    * that the code-point-based segment kernel could never apply.
    */
  test("training symbols are code points, not UTF-16 code units (𝄞x golden)") {
    val clef = new String(Character.toChars(0x1D11E))
    val words = Seq((clef + "x", 3L), (clef + "y", 2L)).toDF("word", "freq")
    val driver = Bpe.train(words, nMerges = 3, minCount = 1)
    val distributed = Bpe.train(words, nMerges = 3, minCount = 1, driverMaxTypes = 0L)
    assert(driver == distributed)
    // first merge is the shared prefix pair (clef, x|y picks the more
    // frequent continuation first): every learned symbol must be valid
    // UTF-16 (no unpaired surrogate halves)
    driver.flatMap(m => Seq(m._1, m._2)).foreach { s =>
      assert(!s.exists(c => Character.isSurrogate(c) &&
        !(s.indices.exists(i => Character.isHighSurrogate(s(i)) &&
          i + 1 < s.length && Character.isLowSurrogate(s(i + 1))))),
        s"symbol '$s' contains an unpaired surrogate half")
      assert(s.codePoints().toArray.forall(Character.isValidCodePoint))
    }
    // expected merge order: (clef,x) and (x,</w>) tie at count 3 and
    // the UTF-8 tie-break picks the smaller left symbol — "x" (0x78)
    // sorts before the clef (F0 9D 84 9E) — so (x,</w>) merges first;
    // then (clef, x</w>) at 3; then (y,</w>) wins its tie with (clef,y)
    // at 2 the same way. The clef must appear as ONE intact symbol.
    assert(driver == Seq(("x", "</w>"), (clef, "x</w>"), ("y", "</w>")),
      s"unexpected merge order: $driver")
    // segmentation with the learned merges reassembles the original
    val seg = Seq(clef + "x").toDF("w")
      .select(bpe_segment(col("w"), driver).as("s"))
      .as[Seq[String]].head()
    assert(seg.mkString == clef + "x</w>")
    assert(seg.head.startsWith(clef), s"segment split the clef: $seg")
  }

  /** Count-tie argmax must break ties in UTF-8 binary (code point)
    * order on BOTH paths: Java's UTF-16 code-unit order sorts U+FF5E
    * (FULLWIDTH TILDE, one code unit 0xFF5E) BEFORE U+1D11E (surrogate
    * pair starting 0xD834), but code points order 0xFF5E < 0x1D11E the
    * same way — need a pair where they genuinely disagree: U+E000
    * (private use, code unit 0xE000) vs U+10000 (pair starting 0xD800).
    * UTF-16 order: 0xD800 < 0xE000; code-point order: 0xE000 < 0x10000.
    */
  test("driver tie-break matches distributed UTF-8 ordering on non-BMP ties") {
    val pua = new String(Character.toChars(0xE000))
    val supp = new String(Character.toChars(0x10000))
    // two words, same freq: pairs (pua,z) and (supp,z) tie at count 1
    val words = Seq((pua + "z", 1L), (supp + "z", 1L)).toDF("word", "freq")
    val driver = Bpe.train(words, nMerges = 1, minCount = 1)
    val distributed = Bpe.train(words, nMerges = 1, minCount = 1, driverMaxTypes = 0L)
    assert(driver == distributed,
      s"tie-break diverged: driver=$driver distributed=$distributed")
  }

  test("segment applies learned merges greedily by rank: lowest -> low + est</w>") {
    val merges = Bpe.train(sennrich, nMerges = 5)
    val out = Seq("lowest").toDF("w")
      .select(bpe_segment(col("w"), merges).as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("low", "est</w>"))
  }

  test("segments always reassemble to the original word + marker") {
    val merges = Bpe.train(sennrich, nMerges = 5)
    val words = Seq("low", "lower", "newest", "widest", "slowest", "xyz", "w")
    val out = words.toDF("w")
      .select(col("w"), concat_ws("", bpe_segment(col("w"), merges)).as("j"))
      .as[(String, String)].collect()
    out.foreach { case (w, j) => assert(j == w + "</w>", w) }
  }

  test("merge kernel is left-to-right non-overlapping") {
    val out = Seq(Seq("a", "a", "a")).toDF("s")
      .select(bpe_merge_pair(col("s"), "a", "a"))
      .as[Seq[String]].head()
    assert(out == Seq("aa", "a"))
  }

  test("minCount stops training before memorizing singletons") {
    val words = Seq(("ab", 1L), ("cd", 1L)).toDF("word", "freq")
    assert(Bpe.train(words, nMerges = 10, minCount = 2).isEmpty)
    // with minCount=1 it merges until every word is one symbol
    val all = Bpe.train(words, nMerges = 10, minCount = 1)
    assert(all.nonEmpty && all.size <= 4)
  }

  test("segmentTokens flattens per-token subwords over a text column") {
    val merges = Bpe.train(sennrich, nMerges = 5)
    val out = Seq("low lowest").toDF("text")
      .select(Bpe.segmentTokens(col("text"), merges).as("t"))
      .as[Seq[String]].head()
    assert(out == Seq("low", "</w>", "low", "est</w>"))
  }

  test("wordFreqs counts corpus word types") {
    val docs = Seq("a b a", "b a").toDF("text")
    val f = Bpe.wordFreqs(docs).as[(String, Long)].collect().toMap
    assert(f == Map("a" -> 3L, "b" -> 2L))
  }

  test("greedy inference == sequential training-order merge application (q160's oracle premise)") {
    // q160's twin reads each word's segmentation off the TRAINING
    // chain (merges applied in rank order, left-to-right non-overlap)
    // while Spark segments via the kernel's greedy best-rank-first
    // loop. The two are equivalent — a rank-r merge can neither
    // enable nor disable a lower-rank pair occurrence that greedy
    // would have taken first — but that equivalence is the oracle's
    // load-bearing premise, so pin it on real corpus words.
    val docs = Tables.documents(spark, sfDir).limit(200)
    val words = Bpe.wordFreqs(docs)
    val merges = Bpe.train(words, nMerges = 20)
    def sequential(word: String): Seq[String] = {
      var syms = {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < word.length) {
          val n = Character.charCount(word.codePointAt(i))
          out += word.substring(i, i + n); i += n
        }
        out += "</w>"; out.toSeq
      }
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toSeq
      }
      syms
    }
    val vocab = words.select(col("word")).as[String].collect()
    val got = vocab.toSeq.toDF("word")
      .select(col("word"), bpe_segment(col("word"), merges).as("s"))
      .as[(String, Seq[String])].collect().toMap
    vocab.foreach { w =>
      assert(got(w) == sequential(w),
        s"greedy != sequential for '$w': ${got(w)} vs ${sequential(w)}")
    }
  }

  test("q160 fertility: totals match an independent corpus replay; unit bounds hold") {
    val rows = NonOracle.q160.build(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect()
    assert(rows.nonEmpty)
    // independent per-source word/char/byte totals straight off the
    // raw text (the BPE unit count is the only column the oracle alone
    // re-derives; everything else must agree with this replay)
    val raw = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 500)
      .select(col("source"), col("text"))
      .as[(String, String)].collect()
      .flatMap { case (src, t) => t.split("\\s+").filter(_.nonEmpty).map(src -> _) }
      .groupBy(_._1).view.mapValues { pairs =>
        val words = pairs.map(_._2)
        (words.length.toLong,
          words.map(w => w.codePointCount(0, w.length).toLong).sum,
          words.map(_.getBytes("UTF-8").length.toLong).sum)
      }.toMap
    rows.foreach { case (src, nw, ntok, nch, nby, fert, cpt, bpt) =>
      val (rw, rc, rb) = raw.getOrElse(src, (0L, 0L, 0L))
      assert(nw == rw, s"$src word count")
      assert(nch == rc, s"$src char count")
      assert(nby == rb, s"$src byte count")
      // every word costs at least 1 unit and at most codepoints+1
      assert(ntok >= nw, s"$src: fewer units than words")
      assert(ntok <= nch + nw, s"$src: more units than codepoints+1 per word")
      assert(nby >= nch, s"$src: bytes < chars")
      assert(fert == ntok.toDouble / nw.toDouble)
      assert(cpt == nch.toDouble / ntok.toDouble)
      assert(bpt == nby.toDouble / ntok.toDouble)
    }
  }

  test("q170 merged-unit classification: learned merges count, atomics and bare </w> don't") {
    // merges: ab, then ab</w> — so "ab" compresses to ONE learned unit
    val merges = Seq(("a", "b"), ("ab", "</w>"))
    val seg = bpe_segment(col("w"), merges)
    val out = Seq("ab", "xy", "a").toDF("w")
      .select(col("w"),
        size(seg).cast("long").as("units"),
        // the exact classification expression q170 ships
        size(filter(seg, x => !(length(x) === 1 || x === "</w>")))
          .cast("long").as("merged"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("ab") == ((1L, 1L)), "full-word merge incl. </w> is ONE learned unit")
    assert(out("xy") == ((3L, 0L)), "unmergeable word: all atomic => fragmented")
    assert(out("a") == ((2L, 0L)), "single char + bare </w>: both atomic")
  }

  test("q170 coverage totals are consistent with q160 fertility on the same slice") {
    val cov = NonOracle.q170.build(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val fert = NonOracle.q160.build(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(cov.keySet == fert.keySet)
    cov.foreach { case (src, (_, nw, nu, nm, nf, mf, fr)) =>
      val (_, fw, ft, _, _, _, _, _) = fert(src)
      assert(nw == fw, s"$src: q170/q160 word counts diverge")
      assert(nu == ft, s"$src: q170 units != q160 token units")
      assert(nm <= nu && nf <= nw, s"$src: count bounds")
      assert(mf == nm.toDouble / nu.toDouble)
      assert(fr == nf.toDouble / nw.toDouble)
    }
  }
}
