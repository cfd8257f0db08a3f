package graft.ops

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  test("trainMerges learns the frequency-ordered merges with deterministic ties") {
    val s2 = spark
    import s2.implicits._
    // "aaab" x3 + "aab" x1: pair counts round 1 — (a,a): 2*3+1 = 7,
    // (a,b): 3+1 = 4 → merge (a,a). Round 2 over {aa,a,b}/{aa,b}:
    // (aa,a): 3, (aa,b): 1, (a,b): 3 → tie between (aa,a) and (a,b);
    // lexicographic tie-break picks (a,b)... "a" < "aa" so (a,b) vs
    // (aa,a): l "a" < "aa" → (a,b) wins.
    val docs = Seq((1L, "aaab aaab aaab aab")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, nMerges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ((1, "a", "a", 7L)))
    assert(m(1) == ((2, "a", "b", 3L)))
  }

  test("trainMerges greedy rewrite handles overlapping runs like reference BPE") {
    val s2 = spark
    import s2.implicits._
    // "aaaa": round-1 census counts overlapping (a,a) pairs (3 per word);
    // the rewrite is greedy non-overlapping → "aa","aa" → round 2 merges
    // (aa,aa)
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, nMerges = 2).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == (("a", "a", 6L)))     // 3 overlapping pairs x 2 words
    assert(m(1) == (("aa", "aa", 2L)))   // after greedy rewrite
  }

  test("trainMerges stops early when the vocabulary runs out of pairs") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    // only 2 learnable merges exist: (a,b) then (c,d); after that every
    // word is a single symbol and training must stop, not throw
    val m = Bpe.trainMerges(docs, nMerges = 10).collect()
    assert(m.length <= 4) // (a,b), (c,d), then maybe nothing
    val pairs = m.map(r => (r.getString(1), r.getString(2))).toSet
    assert(pairs.contains(("a", "b")) && pairs.contains(("c", "d")))
  }

  test("driver and distributed merge-learning paths are byte-identical") {
    val s2 = spark
    import s2.implicits._
    // a corpus with ties, overlapping runs, repeated merges re-formed by
    // later rounds, and multi-word docs — threshold 0 forces the
    // distributed incremental-census path; the default takes the driver
    // inverted-index path; both must produce the same merge table
    val docs = Seq(
      (1L, "banana bandana banana cabana"),
      (2L, "aaaa aaab abab baba"),
      (3L, "the theme then anthem the the")).toDF("doc_id", "text")
    val driver = Bpe.trainMerges(docs, nMerges = 12).collect().map(_.toSeq)
    val dist = Bpe.trainMerges(docs, nMerges = 12, driverVocabThreshold = 0L,
      trackedPairThreshold = 0L).collect().map(_.toSeq)
    assert(driver.toSeq == dist.toSeq)
    // the tracked-census tier (distributed vocab, driver-side exact
    // census) must land on the same bytes
    val tracked = Bpe.trainMerges(docs, nMerges = 12, driverVocabThreshold = 0L)
      .collect().map(_.toSeq)
    assert(driver.toSeq == tracked.toSeq)
  }

  test("batched distributed merges replay the serial path exactly") {
    val s2 = spark
    import s2.implicits._
    // corpora chosen to stress every batch hazard: chained merges whose
    // created pair immediately out-ranks the remaining census (th→the),
    // the same concatenation reachable by two different splits, ties,
    // self-pairs with overlapping runs, and a fully-disjoint set where
    // batching actually fires multi-merge rounds
    val corpora = Seq(
      "the theme then anthem the the there these them",
      "ab ab ab abc abc bc bc cd cd cd de de ef",
      "aaaa aaab abab baba bbbb",
      "xy xy xy za za za qr qr qr mn mn mn uv uv uv",
      "wiki wiki wiki pedia pedia encyclopedia data data base",
      // the whole census fits the collect (guardCount None) AND a
      // merge-CREATED pair ((az,y), old count 0) ties the next resident
      // pair and wins the tie — the created-pair threat must be checked
      // even without a guard row (round-10 review counterexample)
      "azy azy azy azy azy mn mn mn mn mn")
    corpora.zipWithIndex.foreach { case (text, i) =>
      val docs = Seq((i.toLong, text)).toDF("doc_id", "text")
      val serial = Bpe.trainMerges(docs, 16, driverVocabThreshold = 0L,
        batchK = 1, trackedPairThreshold = 0L).collect().map(_.toSeq).toSeq
      val batched = Bpe.trainMerges(docs, 16, driverVocabThreshold = 0L,
        batchK = 8, trackedPairThreshold = 0L).collect().map(_.toSeq).toSeq
      assert(batched == serial, s"corpus $i diverged:\n$batched\nvs\n$serial")
      // the tracked tier batches under the SAME proof with exact threat
      // counts — every hazard corpus must still replay serial
      val tracked = Bpe.trainMerges(docs, 16, driverVocabThreshold = 0L,
        batchK = 8).collect().map(_.toSeq).toSeq
      assert(tracked == serial, s"tracked corpus $i diverged:\n$tracked\nvs\n$serial")
    }
  }

  test("batched merges replay serial on seeded random corpora (interaction stress)") {
    val s2 = spark
    import s2.implicits._
    // tiny alphabets make merge interactions (chains, created-pair ties,
    // re-formed symbols) near-certain; the seed is FIXED so the corpus —
    // and any failure — reproduces exactly
    val rnd = new scala.util.Random(20260814L)
    (1 to 6).foreach { i =>
      val alphabet = "ab" + ("cde".take(1 + rnd.nextInt(3)))
      val words = Seq.fill(12 + rnd.nextInt(8)) {
        Seq.fill(2 + rnd.nextInt(5))(alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val text = Seq.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")
      val docs = Seq((i.toLong, text)).toDF("doc_id", "text")
      val serial = Bpe.trainMerges(docs, 12, driverVocabThreshold = 0L,
        batchK = 1, trackedPairThreshold = 0L).collect().map(_.toSeq).toSeq
      val batched = Bpe.trainMerges(docs, 12, driverVocabThreshold = 0L,
        batchK = 8, trackedPairThreshold = 0L).collect().map(_.toSeq).toSeq
      assert(batched == serial,
        s"seeded corpus $i diverged\ntext: $text\n$batched\nvs\n$serial")
      val tracked = Bpe.trainMerges(docs, 12, driverVocabThreshold = 0L,
        batchK = 8).collect().map(_.toSeq).toSeq
      assert(tracked == serial,
        s"seeded corpus $i tracked diverged\ntext: $text\n$tracked\nvs\n$serial")
    }
  }

  test("batched distributed path matches the driver path on real corpus text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val driver = Bpe.trainMerges(docs, nMerges = 24).collect().map(_.toSeq).toSeq
    val batched = Bpe.trainMerges(docs, nMerges = 24, driverVocabThreshold = 0L,
      batchK = 8, trackedPairThreshold = 0L).collect().map(_.toSeq).toSeq
    assert(batched == driver)
    val tracked = Bpe.trainMerges(docs, nMerges = 24, driverVocabThreshold = 0L,
      batchK = 8).collect().map(_.toSeq).toSeq
    assert(tracked == driver)
  }

  test("tracked tier replays the driver path at merge DEPTH (long words, 48 merges)") {
    val s2 = spark
    import s2.implicits._
    // long words over a tiny alphabet sustain dozens of interacting
    // merge rounds (symbols re-form, chains feed chains) without the
    // vocabulary exhausting — the deepest interaction stress in the
    // suite; seed fixed so any failure reproduces exactly
    val rnd = new scala.util.Random(20260815L)
    val words = Seq.fill(40)(
      Seq.fill(4 + rnd.nextInt(9))("abc" (rnd.nextInt(3))).mkString)
    val text = Seq.fill(120)(words(rnd.nextInt(words.length))).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val driver = Bpe.trainMerges(docs, nMerges = 48).collect().map(_.toSeq).toSeq
    assert(driver.size == 48, s"fixture exhausted at ${driver.size} merges")
    val tracked = Bpe.trainMerges(docs, nMerges = 48, driverVocabThreshold = 0L,
      batchK = 16).collect().map(_.toSeq).toSeq
    assert(tracked == driver)
  }

  test("tracked-tier size probe rejects an exhausted collect at the limit clamp") {
    // the probe collects limit(lim) rows where lim = threshold + 1, so
    // "<= threshold" alone proves the census fits — EXCEPT when the
    // threshold is at or above the Int.MaxValue - 1 clamp: there
    // lim <= threshold, a larger census collects exactly lim rows, and
    // the budget check alone would admit a silently truncated census
    val clamp = Int.MaxValue - 1
    // normal regime: threshold 100 → lim 101
    assert(Bpe.trackedTierFits(100, 101, 100L)) // exactly at budget
    assert(!Bpe.trackedTierFits(101, 101, 100L)) // probe exhausted → too big
    // clamped regime: threshold >= clamp → lim == clamp <= threshold
    assert(Bpe.trackedTierFits(clamp - 1, clamp, Long.MaxValue))
    assert(!Bpe.trackedTierFits(clamp, clamp, Long.MaxValue),
      "an exhausted clamped collect must NOT enter the tracked tier")
    assert(!Bpe.trackedTierFits(clamp, clamp, clamp.toLong),
      "boundary threshold == clamp: exhausted collect still rejected")
  }

  test("tracked census argmax runs zero Spark jobs — round cost is the delta job") {
    val s2 = spark
    import s2.implicits._
    // five fully-disjoint merges: the tracked tier must learn them in ONE
    // round, and the whole run must fit in 4 driver actions — the eager
    // vocab checkpoint, the census bootstrap collect, the round's trigram
    // pass, and the round's delta job. A distributed-census loop cannot
    // do this: its argmax alone is one TakeOrdered action per round.
    val docs = Seq((1L, "xy xy xy za za za qr qr qr mn mn mn uv uv uv"))
      .toDF("doc_id", "text")
    // count executions that RUN at least one job — a lazy checkpoint
    // registers a (job-less) SQL execution, which is plan-only overhead,
    // not a driver action
    def measure(): (Int, String) = {
      val (m, jobs) = graft.obs.JobCensus.during(spark) {
        Bpe.trainMerges(docs, nMerges = 5, driverVocabThreshold = 0L,
          batchK = 8).collect()
      }
      assert(m.length == 5)
      assert(m.map(r => (r.getString(1), r.getString(2))).toSet ==
        Set(("x", "y"), ("z", "a"), ("q", "r"), ("m", "n"), ("u", "v")))
      // minus the final collect
      (graft.obs.JobCensus.actions(jobs) - 1, jobs.mkString("; "))
    }
    // the listener bus is async and shared: a straggler event from an
    // earlier suite (or a GC pause mid-poll) can inflate one reading,
    // so a failed first measurement gets ONE clean re-measure before
    // the contract is declared broken
    val (a1, d1) = measure()
    if (a1 > 4) {
      val (a2, d2) = measure()
      assert(a2 <= 4,
        s"tracked run took $a1 then $a2 driver actions — the zero-job " +
          s"argmax regressed: first $d1, then $d2")
    }
  }

  test("driver vocab probe re-splits words by code point (non-BMP safe)") {
    val s2 = spark
    import s2.implicits._
    // U+1D11E is a surrogate PAIR in Java but ONE code point — the
    // narrow (cnt, word) probe's driver-side re-split must match the
    // segmentation Spark's substring(w, i, 1) built the symbol array with
    assert(Bpe.splitCodePoints("a𝄞b").toSeq ==
      Seq("a", "𝄞", "b"))
    val docs = Seq(
      (1L, "a𝄞b a𝄞b 𝄞𝄞 xy xy"))
      .toDF("doc_id", "text")
    val driver = Bpe.trainMerges(docs, nMerges = 3).collect().map(_.toSeq).toSeq
    val dist = Bpe.trainMerges(docs, nMerges = 3, driverVocabThreshold = 0L,
      trackedPairThreshold = 0L).collect().map(_.toSeq).toSeq
    assert(driver == dist)
  }

  test("encodeStats applies learned merges as a pure projection") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq((1L, "lower lowest"), (2L, "low")).toDF("doc_id", "text")
    val stats = Bpe.encodeStats(docs, Seq(("l", "o"), ("lo", "w")))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // "lower" -> [low, e, r] (3), "lowest" -> [low, e, s, t] (4) = 7
    assert(stats(1L) == ((2, 7)))
    assert(stats(2L) == ((1, 1))) // "low" -> [low]
    // no shuffle, no UDF: pure codegen projection
    val plan = Bpe.encodeStats(docs, Seq(("l", "o")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(1000))
  }
}
