package graft.llm

import graft.SparkSuite
import org.apache.spark.sql.functions.col

/** Pins the compression-ratio quality signal: repetitive text
  * compresses far better than varied text, ratios are in (0, ~1.2],
  * and the computation is deterministic across runs. */
class TextAnalysisSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    (2L, "the quick brown fox jumps over a lazy dog near the riverbank"),
    (3L, "x")).toDF("doc_id", "text")

  test("repetitive text compresses much better than varied text") {
    val r = TextAnalysis.compressionRatio(docs)
      .as[(Long, Int, Int, Double)].collect()
      .map(x => x._1 -> x._4).toMap
    assert(r(1L) < r(2L) * 0.6) // repetition → markedly lower ratio
    assert(r(2L) > 0 && r(2L) < 1.5) // normal prose ≈ ratio < 1.5
    assert(r(3L) > 1.0) // tiny doc: fixed deflate overhead dominates
  }

  test("ratios are deterministic across runs") {
    val a = TextAnalysis.compressionRatio(docs).collect().toSeq.sortBy(_.getLong(0))
    val b = TextAnalysis.compressionRatio(docs).collect().toSeq.sortBy(_.getLong(0))
    assert(a === b)
  }

  test("e2e pipeline: lang + quality filters, dedup keeper, chunking") {
    // 10 = good english (18 tokens -> chunks of 16 + 2); 11 = exact
    // copy (deduped, 10 is keeper); 12 = german (lang-filtered);
    // 13 = all-stopword english (quality 0.05 < 0.5, filtered).
    val en = "the quick brown fox jumps over a lazy dog while birds " +
      "watch quietly from tall green trees nearby"
    val dir = java.nio.file.Files.createTempDirectory("pipe").toString
    Seq((10L, en), (11L, en),
      (12L, "der hund und die katze und das haus und der baum"),
      (13L, "the the the the the the the the the the"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val funnel = TextAnalysis.queries("q_pipeline_funnel")(spark, dir)
      .as[(Long, Long, Long, Long)].head()
    assert(funnel == ((4L, 3L, 2L, 1L)))

    val chunks = TextAnalysis.queries("q_pipeline_chunks")(spark, dir)
      .select("doc_id", "chunk_idx", "chunk_tokens")
      .as[(Long, Int, Int)].collect().toSeq
    assert(chunks == Seq((10L, 0, 16), (10L, 1, 2)))
  }

  test("q_bpe_train learns the hand-computed merges, greedy pass included") {
    // Dict: aaaa (f=2), ab (f=1).
    //  round 1: pairs (a,a)=3·2=6, (a,b)=1 → merge (a,a); greedy on
    //    'aaaa' takes positions 1 and 3 → [aa, aa]; 4 symbols survive.
    //  round 2: (aa,aa)=2, (a,b)=1 → merge (aa,aa) → [aaaa]; 3 left.
    //  round 3: only (a,b)=1 → merge (a,b) → [ab]; 2 left.
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    Seq((1L, "aaaa aaaa ab"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_bpe_train")(spark, dir)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "a", 6L, 4L),
      (2, "aa", "aa", 2L, 3L),
      (3, "a", "b", 1L, 2L)))
  }

  test("Kneser-Ney bigram model and held-out scoring match hand arithmetic") {
    // Train (ids 1,2): "a b a b c" -> (a,b)x2,(b,a),(b,c); "c a" -> (c,a).
    // cvw types N=4. cv: a(2,1) b(2,2) c(1,1). cont: a<-2, b<-1, c<-1.
    val dir = java.nio.file.Files.createTempDirectory("kn").toString
    Seq((1L, "a b a b c"), (2L, "c a"), (4L, "a b x"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val model = TextAnalysis.queries("q_lm_kn_train")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(model == Seq(("a", 2L, 1L, 2L), ("b", 2L, 2L, 1L),
      ("c", 1L, 1L, 1L)))
    // Test doc 4 "a b x": (a,b): num = (4*2-3)*4 + 3*1*1 = 23,
    // den = 4*2*4 = 32, term = round(ln(23/32),6) = -0.330242;
    // (b,x): x never continues anything -> num = 0 -> floor -18.420681.
    val got = TextAnalysis.queries("q_lm_perplexity")(spark, dir)
      .as[(Long, Long, Double, Double, Int, Boolean)].collect().toSeq
    assert(got == Seq((4L, 2L, -18.7509, -9.375462, 1, false)))
  }

  test("BPE survives a pairless round: no merges learned, docs still tokenize") {
    // Every dict word is a single character, so round 1 finds NO
    // adjacent pairs — `best` is empty. The old crossJoin emptied the
    // symbol table (dropping every doc from tokenize); the left-join
    // guard must pass the table through unchanged instead.
    val dir = java.nio.file.Files.createTempDirectory("bpe0").toString
    Seq((1L, "a b"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(TextAnalysis.queries("q_bpe_train")(spark, dir).count() == 0L)
    val got = TextAnalysis.queries("q_bpe_tokenize")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0)))
  }

  /** A one-column documents table holding `docs` in a fresh dir. */
  private def corpusOf(prefix: String, docs: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    docs.zipWithIndex.map { case (t, i) => (i + 1L, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("WordPiece survives a pairless round: no merges learned, docs still tokenize") {
    // "a b": both dict words are one character, so no round finds an
    // adjacent pair — 0 train rows, and each word stays 1 unit: doc 1
    // has 2 words, 2 units, 2 / 2 = 1.0 units per word.
    val dir = corpusOf("wp0", "a b")
    assert(TextAnalysis.queries("q_wordpiece_train")(spark, dir).count() == 0L)
    val got = TextAnalysis.queries("q_wordpiece_tokenize")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0)))
  }

  test("BPE merges an odd run greedily from the left") {
    // Dict: aaaaa (f=1), 5 symbols.
    //  round 1: (a,a) = 4 adjacent pairs · 1 → merge (a,a); the greedy
    //    pass takes positions 1-2 and 3-4 and leaves the 5th:
    //    [aa, aa, a], 3 symbols.
    //  round 2: (aa,aa) = 1 and (aa,a) = 1 tie on pair_cnt; lft ties
    //    too, and rgt "a" < "aa" → merge (aa,a) → [aa, aaa], 2 left.
    //  round 3: only (aa,aaa) = 1 → [aaaaa], 1 left.
    val dir = corpusOf("bpeodd", "aaaaa")
    val got = TextAnalysis.queries("q_bpe_train")(spark, dir)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "a", 4L, 3L),
      (2, "aa", "a", 1L, 2L),
      (3, "aa", "aaa", 1L, 1L)))
  }

  test("BPE breaks a pair_cnt tie by (lft, rgt)") {
    // Dict: ab (f=1), cd (f=1), 4 symbols.
    //  round 1: (a,b) = 1 and (c,d) = 1 tie; lft "a" < "c" → merge
    //    (a,b) → [ab], [c, d]; 3 symbols.
    //  round 2: only (c,d) = 1 → [cd]; 2 symbols.
    //  round 3: every word is one symbol — no pair, no row.
    val dir = corpusOf("bpetie", "ab cd")
    val got = TextAnalysis.queries("q_bpe_train")(spark, dir)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "b", 1L, 3L),
      (2, "c", "d", 1L, 2L)))
  }

  test("each merge trainer runs at most 10 jobs over construct + collect") {
    // one dictionary collect per shard (its exchanges run as jobs of
    // their own) and one report collect; the WordPiece reports add a
    // broadcast per round
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("q_bpe_train", "q_wordpiece_train", "q_bpe_bytes_train",
        "q_tokenizer_curve", "q_bpe_merge_train", "q_wordpiece_merge_train")) {
      TextAnalysis.queries(q)(spark, sf).collect() // warm: resolves the table
      val (jobs, _) = jobsOf(TextAnalysis.queries(q)(spark, sf).collect())
      assert(jobs.size <= 10, s"$q ran ${jobs.size} jobs")
    }
  }

  test("q_bpe_tokenize applies the trained merges: hand corpus collapses to 1 unit/word") {
    // After the three merges of the q_bpe_train test both dict words
    // segment to a single unit, so every doc word costs exactly 1.
    val dir = java.nio.file.Files.createTempDirectory("bpet").toString
    Seq((1L, "aaaa aaaa ab"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_bpe_tokenize")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 1.0)))
  }

  test("GPT-2 pre-tokenization: contractions, CJK, digits, punct, leading-space attachment") {
    // the production input segmentation (Radford et al. 2019 §2.2)
    // pinned case by case; every case also pins the partition
    // property (concat(pre-tokens) == text — no byte lost), which is
    // what upgrades q_bpe_bytes_tokenize's gate to md5(text)-exact.
    val cases: Seq[(String, Seq[String])] = Seq(
      "don't stop" -> Seq("don", "'t", " stop"),
      "it's we're I'll they'd" ->
        Seq("it", "'s", " we", "'re", " I", "'ll", " they", "'d"),
      "hello  world" -> Seq("hello", " ", " world"), // run yields last space
      "a   b" -> Seq("a", "  ", " b"),
      "foo-bar! 123" -> Seq("foo", "-", "bar", "!", " 123"),
      "42km x2" -> Seq("42", "km", " x", "2"),      // digit/letter runs split
      "汉字 and English" -> Seq("汉字", " and", " English"),
      "  leading" -> Seq(" ", " leading"),
      "trail  " -> Seq("trail", "  "),               // trailing run keeps both
      "x\n\ny" -> Seq("x", "\n", "\n", "y"))         // \n is not ' ': no attach
    val got = TextAnalysis.gpt2PreTokens(col("text"))
    val out = cases.map(_._1).toDF("text").select(got.as("toks"))
      .as[Seq[String]].collect()
    cases.zip(out).foreach { case ((text, want), toks) =>
      assert(toks == want, s"[$text] got $toks want $want")
      assert(toks.mkString == text, s"[$text] pre-tokens must partition the text")
    }
  }

  test("q_wordpiece_train diverges from BPE exactly as the likelihood score dictates") {
    // Same corpus as the BPE test: aaaa(f=2), ab(1). Symbol counts
    // a=9, b=1; pairs (a,a)=6, (a,b)=1. BPE merges (a,a) first, but
    // WordPiece scores (a,b): ln1−ln9−ln1 = −2.197225 BEATS (a,a):
    // ln6−2·ln9 = −2.602690 — rare parts, perfect cohesion. Round 2:
    // a=8, ab=1, only (a,a)=6: ln6−2·ln8 = −2.367124 → aaaa=[aa,aa].
    // Round 3: aa=4, ab=1, (aa,aa)=2: ln2−2·ln4 = −2.079442 → [aaaa].
    // n_syms_after counts DICT rows (4+2 pre-merge): 5 → 3 → 2.
    val dir = java.nio.file.Files.createTempDirectory("wp").toString
    Seq((1L, "aaaa aaaa ab"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_wordpiece_train")(spark, dir)
      .as[(Int, String, String, Long, Double, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "b", 1L, -2.197225, 5L),
      (2, "a", "a", 6L, -2.367124, 3L),
      (3, "aa", "aa", 2L, -2.079442, 2L)))
  }

  test("q_ulm_train matches the hand-computed EM rounds") {
    // Dict: abcd(f=2), ab(1), cd(1), x(1). Seed vocab: 5 singles + 6
    // multi = 11 pieces, total weight 27. Every word Viterbi-segments
    // to ONE piece (whole-word pieces beat any split), so round 1:
    // ll = 2·ln(2/27) + ln(3/27)·2 + ln(1/27), each 6-dp rounded,
    // = −12.8957; 5 pieces / 5 words. Usage prunes the vocab to the
    // 5 singles (+1 smoothing) + {abcd, ab, cd} = 8 pieces, total 13;
    // round 2: ll = 2·ln(3/13) + 3·ln(2/13) = −8.5481.
    val dir = java.nio.file.Files.createTempDirectory("ulm").toString
    Seq((1L, "abcd abcd ab cd x"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_ulm_train")(spark, dir)
      .as[(Int, Long, Double, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1, 11L, -12.8957, 5L, 1.0),
      (2, 8L, -8.5481, 5L, 1.0)))
  }

  test("ULM: multi-piece Viterbi, pruning to singles, and the word-length cap") {
    // 'aaaaaaaaaaaaaaaaaaaa' (20 chars) exceeds the 16-char cap and
    // drops from the dict, leaving 'bb'. Seed: {b: 2, bb: 1}, tot 3 —
    // the SPLIT [b,b] (2·ln(2/3) = −0.8109) beats [bb] (ln(1/3) =
    // −1.0986), so round 1 picks 2 pieces and 'bb' prunes out of the
    // vocab; round 2's vocab is the lone smoothed single {b: 3}/3 →
    // lp = 0 and ll = 0.
    val dir = java.nio.file.Files.createTempDirectory("ulmcap").toString
    Seq((1L, ("a" * 20) + " bb"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_ulm_train")(spark, dir)
      .as[(Int, Long, Double, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1, 2L, -0.8109, 2L, 2.0),
      (2, 1L, 0.0, 2L, 2.0)))
  }

  test("q_ulm_fertility: both tokenizers collapse the hand corpus to 1 unit/word") {
    // ULM: every word is a whole-word piece (first test). BPE: merges
    // (a,b) → (c,d) → (ab,cd) leave every dict word a single unit.
    val dir = java.nio.file.Files.createTempDirectory("ulmf").toString
    Seq((1L, "abcd abcd ab cd x"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_ulm_fertility")(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("src", 5L, 5L, 5L, 1.0, 1.0)))
  }

  test("q_tokenizer_curve: fertility descends in merges; budget 3 matches the fertility queries") {
    // The operating curve folds budgets 3/6/9 from ONE 9-round chain
    // per family. Pins: row grid complete; fertility weakly monotone
    // descending per family with a strict drop 3→9 (later rounds keep
    // merging on this corpus); and the budget-3 rows agree EXACTLY
    // with the standalone 3-merge fertility queries (single source,
    // dict-side Σf·units / Σf = apply-side mean units per occurrence).
    val dir = java.nio.file.Files.createTempDirectory("tokcurve").toString
    Seq((1L, "the cat sat on the mat the cat ran"),
        (2L, "a hat and a bat and a rat sat"),
        (3L, "the rain in spain stays mainly in the plain"),
        (4L, "singing ringing winging things bring kings"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_tokenizer_curve")(spark, dir)
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq(("bpe", 3), ("bpe", 6),
      ("bpe", 9), ("wordpiece", 3), ("wordpiece", 6), ("wordpiece", 9)))
    for (fam <- Seq("bpe", "wordpiece")) {
      val fs = got.filter(_._1 == fam).sortBy(_._2).map(_._4)
      assert(fs.zip(fs.tail).forall { case (a, b) => b <= a },
        s"$fam fertility must not rise with budget: $fs")
      assert(fs.last < fs.head,
        s"$fam must keep merging between budgets 3 and 9: $fs")
    }
    val bpe3 = TextAnalysis.queries("q_bpe_fertility")(spark, dir)
      .select("fertility").as[Double].head()
    assert(got.find(r => r._1 == "bpe" && r._2 == 3).get._4 == bpe3)
    val wp3 = TextAnalysis.queries("q_wordpiece_fertility")(spark, dir)
      .select("fertility").as[Double].head()
    assert(got.find(r => r._1 == "wordpiece" && r._2 == 3).get._4 == wp3)
  }

  test("LR quality filter separates a separable corpus; logloss descends") {
    // en says only "aa" (hash dim 11), de only "bb" (dim 12) — no
    // feature collision, so two GD steps in micro-units must separate
    // train AND held-out perfectly while log-loss strictly descends.
    // Gopher drops BOTH test docs (top_word_frac = 1.0), so the
    // agreement census is 1/2: LR keeps the en doc, Gopher doesn't.
    val dir = java.nio.file.Files.createTempDirectory("lrq").toString
    val docs = Seq(
      (1L, "aa aa aa", "en"), (2L, "aa aa aa", "en"), (3L, "aa aa aa", "en"),
      (5L, "bb bb bb", "de"), (6L, "bb bb bb", "de"), (7L, "bb bb bb", "de"),
      (4L, "aa aa aa", "en"), (8L, "bb bb bb", "de"))
    docs.map { case (id, t, l) => (id, t, l, "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val steps = TextAnalysis.queries("q_lr_quality")(spark, dir)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(steps.map(_._1) == Seq(0, 1, 2))
    assert(steps(0)._3 > steps(1)._3 && steps(1)._3 > steps(2)._3,
      s"logloss must strictly descend: $steps")
    assert(steps(2)._4 == 1.0, s"separable corpus must train to 1.0: $steps")
    val agree = TextAnalysis.queries("q_lr_gopher_agree")(spark, dir)
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(agree == ((2L, 1L, 0L, 1L, 0.5, 1.0)))
  }

  test("q_lr_gopher_rules attributes each overruled drop to the rule(s) that fired") {
    // Engineered disagreement set: doc 9 fires ONLY top_word (aa×3 in
    // 10 tokens = 0.3; dup2 = 1/9, dup3 = 0), doc 10 fires all three
    // (aa×3 + the aa-cc alternation pushes dup2 to 3/9 and dup3 to
    // 2/8). Both are all-en-vocab docs, so the trained LR keeps them
    // — two overrules, one of them sole-attributed to top_word. The
    // de docs ("bb bb bb") fire top_word + dup2 but the LR drops them
    // too (agreement, not overrule), and the varied en docs fire
    // nothing.
    val dir = java.nio.file.Files.createTempDirectory("lrrules").toString
    val en = "aa cc dd ee ff gg hh ii jj kk"
    val docs = Seq(
      (1L, en, "en"), (2L, en, "en"), (3L, en, "en"), (4L, en, "en"),
      (5L, "bb bb bb", "de"), (6L, "bb bb bb", "de"), (7L, "bb bb bb", "de"),
      (9L, "aa aa aa cc dd ee ff gg hh ii", "en"),
      (10L, "aa cc aa cc aa cc dd ee ff gg", "en"))
    docs.map { case (id, t, l) => (id, t, l, "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_lr_gopher_rules")(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("dup_2gram_frac", 4L, 1L, 0L, 0.5),
      ("dup_3gram_frac", 1L, 1L, 0L, 0.5),
      ("top_word_frac", 5L, 2L, 1L, 1.0)))
  }

  test("q_nb_classify separates a separable corpus perfectly") {
    // Train (doc_id % 4 != 0): class x says only "aa", class y only
    // "bb". Test (doc_id % 4 == 0): 4 is pure-x text, 8 pure-y.
    val dir = java.nio.file.Files.createTempDirectory("nb").toString
    Seq((1L, "aa aa aa", "x"), (2L, "aa aa", "x"),
      (3L, "bb bb bb", "y"), (5L, "bb bb", "y"),
      (4L, "aa aa aa aa", "x"), (8L, "bb", "y"))
      .map { case (id, t, l) => (id, t, l, "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val preds = TextAnalysis.queries("q_nb_classify")(spark, dir)
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    assert(preds == Map(4L -> "x", 8L -> "y"))
  }

  test("byte-level BPE round-trips NON-ASCII text exactly (UTF-8 bytes, md5-proven)") {
    // The no-OOV property byte-level BPE exists for: emoji, CJK,
    // accents, and mixed-script tokens — none admissible to the
    // char-BPE [a-z]+ gate — must all segment and re-decode to their
    // exact original bytes. rebuilt_md5 is computed from the trained
    // SEGMENTATION; the expectation below from the raw words
    // directly, so equality proves decode(encode(x)) == x per doc.
    val dir = java.nio.file.Files.createTempDirectory("bpebytes").toString
    val rows = Seq(
      (0L, "caf\u00e9 na\u00efve \u00fcber"),
      (1L, "\u65e5\u672c\u8a9e \u30c6\u30b9\u30c8 \ud83d\ude00\ud83d\ude00"),
      (2L, "mixed ascii \u0438 \u043a\u0438\u0440\u0438\u043b\u043b\u0438\u0446\u0430"),
      (3L, "plain ascii words only"))
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.queries("q_bpe_bytes_tokenize")(spark, dir)
      .select("doc_id", "n_words", "rebuilt_md5")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    def md5hex(b: Array[Byte]): String = {
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    }
    rows.foreach { case (id, text) =>
      // expectation via a direct Java-regex application of the GPT-2
      // pattern: the pre-tokens partition the text, so the
      // segment-rebuilt hex must equal the WHOLE document's UTF-8
      // bytes — spaces included (stronger than the pre-r19 per-word
      // form, which dropped them)
      val m = java.util.regex.Pattern
        .compile(TextAnalysis.Gpt2PreTokenRe).matcher(text)
      val toks = Iterator.continually(m)
        .takeWhile(_.find()).map(_.group()).toList
      assert(toks.mkString == text, s"doc $id: partition property")
      val rawHex = toks.map(_.getBytes("UTF-8")
        .map(b => f"${b & 0xff}%02X").mkString).mkString("")
      val (nWords, gotMd5) = got(id)
      assert(nWords == toks.length, s"doc $id pre-token count")
      assert(gotMd5 == md5hex(rawHex.getBytes("UTF-8")),
        s"doc $id: segment-rebuilt bytes must equal the original bytes")
    }
    // and the trainer runs: 3 merge rows, hex-pair symbols
    val tr = TextAnalysis.queries("q_bpe_bytes_train")(spark, dir).collect()
    assert(tr.length == 3)
    assert(tr.forall(r => r.getAs[String]("lft").length % 2 == 0 &&
      r.getAs[String]("rgt").length % 2 == 0))
  }

  test("q_bpe_merge_train: sharded sufficient-statistics train == full train, bit for bit") {
    // The additive-statistics claim, asserted at the value level on
    // real data: every learned merge, its weighted pair count, and
    // the surviving symbol census must match the full-corpus trainer
    // exactly (the oracle gate re-proves this vs DuckDB every round;
    // this spec pins Spark-vs-Spark so a refactor of either path
    // can't drift silently).
    val sf = "/root/testdata/sf0.001"
    val full = TextAnalysis.queries("q_bpe_bytes_train")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val merged = TextAnalysis.queries("q_bpe_merge_train")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(merged === full)
  }

  test("q_wordpiece_merge_train: sharded likelihood train == full train, bit for bit") {
    // the third family's additive-statistics claim: pair counts AND
    // unigram counts merge across shards, so the likelihood score and
    // every learned merge must equal the full-corpus trainer exactly —
    // score doubles included (same longs in, same ops).
    val sf = "/root/testdata/sf0.001"
    val full = TextAnalysis.queries("q_wordpiece_train")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val merged = TextAnalysis.queries("q_wordpiece_merge_train")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(merged === full)
  }

  test("q_train_shards: fixed-size seeded shards — exact sizes, conserved totals, deterministic") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextAnalysis.queries("q_train_shards")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    // shard ids are dense from 0; every shard but the last holds
    // exactly 32 sequences (the fixed-size loader contract)
    assert(rows.map(_._1) == rows.indices.toSeq)
    assert(rows.dropRight(1).forall(_._2 == 32L),
      "non-tail shards must hold exactly 32 sequences")
    assert(rows.last._2 >= 1L && rows.last._2 <= 32L)
    // token conservation: shard totals re-add to the corpus total
    val corpusTokens = graft.Tables(spark, sf, "documents")
      .selectExpr("sum(size(split(text, ' ')))").head().getLong(0)
    assert(rows.map(_._3).sum == corpusTokens)
    // the seeded permutation is engine-stable: a second run emits
    // identical manifests (md5s included)
    val again = TextAnalysis.queries("q_train_shards")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(again === rows)
  }
}
