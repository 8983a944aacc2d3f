package graft

import graft.catalog.Lake
import graft.operators.{Evaluation, TextAnalysis}
import org.apache.spark.sql.functions.{avg, col}
import org.scalatest.funsuite.AnyFunSuite

class TextSelectionSpec extends AnyFunSuite {
  import TestSpark._
  private lazy val lake = Lake(spark, sfDir)

  test("token budget: kept set is partition-count-invariant, ordered, within budget") {
    import graft.operators.TextAnalysis
    val base = TextAnalysis.samp04TokenBudget(lake, budget = 3000L, parts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the distributed prefix sum must not depend on where the range
    // boundaries fall: 1 partition (the naive global window, exact by
    // construction) and 3 partitions agree with 8
    Seq(1, 3).foreach { parts =>
      val alt = TextAnalysis.samp04TokenBudget(lake, budget = 3000L, parts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(alt.toSeq == base.toSeq, s"parts=$parts diverged")
    }
    assert(base.nonEmpty)
    // cum is a strictly increasing exact prefix sum capped by budget
    assert(base.last._3 <= 3000L)
    base.sliding(2).foreach {
      case Array((_, _, c1), (_, t2, c2)) => assert(c2 - t2 == c1)
      case _ =>
    }
    // greedy boundary: adding the next-best doc would break the budget
    val all = TextAnalysis.samp04TokenBudget(lake, budget = Long.MaxValue, parts = 8)
      .collect()
    if (all.length > base.length)
      assert(all(base.length).getLong(2) > 3000L)
  }

  test("score calibration: curve is monotone, bounded, and consistent with its own counts") {
    import TestSpark._
    val lake = graft.catalog.Lake(spark, sfDir)
    val rows = graft.operators.Evaluation.eval05ScoreCalibration(lake)
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
    assert(rows.length == 7)
    // raising the threshold can only shrink the kept set and recall
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"n_kept not monotone: $lo -> $hi")
      assert(hi._5 <= lo._5 + 1e-9, s"recall not monotone: $lo -> $hi")
    }
    rows.foreach { case (t, kept, frac, prec, rec) =>
      assert(frac >= 0.0 && frac <= 1.0 && rec >= 0.0 && rec <= 1.0)
      prec.foreach(p => assert(p >= 0.0 && p <= 1.0, s"precision $p at $t"))
      assert((kept == 0) == prec.isEmpty, "precision defined iff anything kept")
    }
  }

  test("roc auc: the binned rank-sum AUC equals the brute-force pairwise probability") {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val lake = graft.catalog.Lake(spark, sfDir)
    val row = graft.operators.Evaluation.eval07RocAuc(lake).collect().head
    val (n, nPos, nNeg) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(n == lake.documents.count() && n == nPos + nNeg)
    val auc = row.getDouble(3)
    assert(auc >= 0.0 && auc <= 1.0)
    assert(math.abs(row.getDouble(4) - (2 * auc - 1)) <= 1e-4 + 1e-9)
    // brute force over all pos x neg pairs from the same public
    // score + verdict surfaces (O(n^2) — test-scale only)
    val scored = lake.documents
      .select(
        col("doc_id"),
        graft.plans.HashedClassifierScore(col("text"), 4096).as("m")
      )
      .select(
        col("doc_id"),
        round(col("m.s_milli") / 1000.0 / col("m.n_feats"), 4).as("s")
      )
      .join(
        graft.operators.TextAnalysis
          .gopherVerdict(lake.documents)
          .select(col("doc_id"), col("passes")),
        "doc_id"
      )
      .collect()
      .map(r => (r.getDouble(1), r.getBoolean(2)))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(pos.length.toLong == nPos && neg.length.toLong == nNeg)
    val num = pos.iterator.map { p =>
      neg.count(_ < p) + 0.5 * neg.count(_ == p)
    }.sum
    val brute = num / (pos.length.toDouble * neg.length.toDouble)
    assert(math.abs(auc - brute) <= 5e-5, s"auc $auc vs brute $brute")
  }

  test("mixture sample: sqrt keep-rate law, realized tracks target, seed re-deals") {
    import TestSpark._
    val lake = graft.catalog.Lake(spark, sfDir)
    val rows = graft.operators.TextAnalysis.samp12MixtureSample(lake)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val cMin = rows.map(_._3).min
    rows.foreach { case (src, nDocs, nChars, rate, kept, realized) =>
      // the sqrt law, recomputed
      assert(math.abs(rate - math.sqrt(cMin.toDouble / nChars)) < 1e-6, src)
      assert(rate > 0.0 && rate <= 1.0)
      assert(kept >= 0 && kept <= nDocs)
      assert(math.abs(realized - kept.toDouble / nDocs) < 1e-6)
      // realized rate is a binomial draw around the target: allow
      // 4 sigma at the test-scale n
      val sigma = math.sqrt(rate * (1 - rate) / nDocs)
      assert(math.abs(realized - rate) <= 4 * sigma + 1e-9,
        s"$src realized $realized vs rate $rate (sigma $sigma)")
    }
    // the smallest-volume source is never downsampled
    val smallest = rows.minBy(_._3)
    assert(smallest._4 == 1.0 && smallest._5 == smallest._2)
    // a different seed re-deals membership but keeps the same law
    val reseed = graft.operators.TextAnalysis.samp12MixtureSample(lake, seed = 8)
      .collect()
      .map(r => (r.getString(0), r.getDouble(3)))
      .toMap
    rows.foreach { case (src, _, _, rate, _, _) =>
      assert(math.abs(reseed(src) - rate) < 1e-9, s"$src rate changed with seed")
    }
  }

  test("seeded sample: ~rate kept, seed re-deals, retry-stable, map-only") {
    import TestSpark._
    val lake = graft.catalog.Lake(spark, sfDir)
    val total = lake.documents.count().toDouble
    val s7 = graft.operators.TextAnalysis.samp08SeededSample(lake, seed = 7)
    val k7 = s7.count().toDouble
    // md5 uniformity: 0x3333/0x10000 ≈ 20% — allow a generous band at
    // 500 docs (sd ≈ 1.8%)
    assert(k7 / total > 0.10 && k7 / total < 0.30, s"rate ${k7 / total}")
    // deterministic: the same seed picks the same rows on every run
    val again = graft.operators.TextAnalysis.samp08SeededSample(lake, seed = 7)
      .collect().map(_.getLong(0)).toSeq
    assert(again == s7.collect().map(_.getLong(0)).toSeq)
    // a different seed re-deals the sample (overlap ≈ rate², not 1)
    val s8ids = graft.operators.TextAnalysis.samp08SeededSample(lake, seed = 8)
      .collect().map(_.getLong(0)).toSet
    val s7ids = again.toSet
    assert(s7ids != s8ids)
    // The sample itself is map-only: the only exchange is the final
    // presentation sort's range partitioning — no hash shuffle exists.
    val plan = s7.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan.linesIterator.take(8).mkString("\n"))
  }

  test("shuffle-shard: balanced shards, contiguous positions, source-decorrelated, seed-keyed") {
    val out = TextAnalysis.samp06ShuffleShard(lake).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val n = lake.documents.count()
    assert(out.length == n, "every doc dealt exactly once")
    val byShard = out.groupBy(_._3)
    assert(byShard.keySet == (0L until 8L).toSet, "all shards populated")
    // balance: md5-uniform deal keeps every shard within 2x of fair share
    byShard.foreach { case (s, rows) =>
      assert(rows.length < 2.0 * n / 8 && rows.length > n / 8 / 2.0, s"shard $s: ${rows.length}")
    }
    // positions are a contiguous 1..k run per shard
    byShard.foreach { case (s, rows) =>
      assert(rows.map(_._4).sorted.sameElements(1L to rows.length), s"shard $s positions")
    }
    // decorrelation: a shard is not a source column — every shard
    // mixes most of the 20 sources
    byShard.foreach { case (s, rows) =>
      assert(rows.map(_._2).distinct.length >= 10, s"shard $s sources")
    }
    // changing the seed re-deals the within-shard order
    val reseeded = TextAnalysis.samp06ShuffleShard(lake, seed = 43).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(reseeded.map(r => r._1 -> r._3).toMap == out.map(r => r._1 -> r._3).toMap,
      "shard assignment is seed-independent (layout stable)")
    assert(reseeded.map(r => r._1 -> r._4).toMap != out.map(r => r._1 -> r._4).toMap,
      "order within shards re-deals with the seed")
  }

  test("interleave schedule: prefix shares track weights; per-source order preserved") {
    val rows = TextAnalysis.samp11InterleaveSchedule(lake, takeN = 120).collect()
    assert(rows.length == 120)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 120L), "ranks not dense")
    // per-source documents appear in ascending doc_id order
    rows.groupBy(_.getString(2)).values.foreach { rs =>
      val ids = rs.sortBy(_.getLong(0)).map(_.getLong(1))
      assert(ids.sameElements(ids.sorted), "per-source order broken")
    }
    // WFQ bounded lag: within the prefix, each source's count stays
    // close to its weight share (sqrt-flattened) of the prefix
    val counts = lake.documents.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val z = counts.values.map(n => math.sqrt(n.toDouble)).sum
    val got = rows.groupBy(_.getString(2)).map { case (s, rs) => s -> rs.length }
    counts.foreach { case (s, n) =>
      val expect = 120.0 * math.sqrt(n.toDouble) / z
      val g = got.getOrElse(s, 0)
      assert(math.abs(g - expect) <= 2.0, s"$s: got $g expected ~$expect")
    }
  }

  test("agreement audit: stats well-formed, ~95% of pairs inside the limits of agreement") {
    val r = graft.operators.Evaluation.eval06Agreement(lake).collect().head
    val (n, pr, md, sd) = (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val (lo, hi, within) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(n > 0)
    assert(pr >= -1.0 && pr <= 1.0)
    assert(sd > 0.0, "degenerate: recorded == recomputed everywhere")
    assert(math.abs(lo - (md - 1.96 * sd)) < 1e-3)
    assert(math.abs(hi - (md + 1.96 * sd)) < 1e-3)
    // ±1.96σ brackets ~95% for any unimodal-ish diff distribution;
    // Chebyshev alone guarantees >= 0.74
    assert(within >= 0.74 && within <= 1.0, s"within_loa $within")
  }

  test("epoch mixture: cap respected, budget placed, uncapped sources share one water level") {
    val rows = TextAnalysis.samp10EpochMixture(lake).collect()
    val cap = 4.0
    rows.foreach { r =>
      assert(r.getDouble(4) <= cap + 1e-9, s"cap exceeded: $r")
    }
    val planned = rows.map(_.getDouble(5)).sum
    val budget = 3.5 * rows.map(_.getLong(2)).sum
    // some source is below cap on this corpus, so water-filling must
    // place (essentially) the whole budget
    assert(rows.exists(_.getDouble(4) < cap), "degenerate: everything capped")
    assert(math.abs(planned - budget) / budget < 1e-3,
      s"budget not placed: $planned vs $budget")
    // alpha = 0 -> equal shares -> every uncapped source converges to
    // the same planned-token water level (rounds-limited tolerance)
    val open = rows.filter(_.getDouble(4) < cap - 1e-9).map(_.getDouble(5))
    assert(open.max - open.min < open.max * 1e-3,
      s"uncapped levels diverge: ${open.min} .. ${open.max}")
  }

  test("ccnet buckets: per-lang partition is complete, ordered, and tercile-balanced") {
    val rows = TextAnalysis.txt25CcnetBuckets(lake).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5)))
    val langs = rows.map(_._1).distinct
    langs.foreach { l =>
      val by = rows.filter(_._1 == l).map(r => r._2 -> r).toMap
      assert(by.keySet == Set("head", "middle", "tail"), s"$l missing a bucket")
      // score ranges must not interleave: head is the fluent tercile
      assert(by("head")._5 <= by("middle")._4, s"$l head/middle overlap")
      assert(by("middle")._5 <= by("tail")._4, s"$l middle/tail overlap")
      // terciles of a continuous score: no bucket degenerates
      val total = by.values.map(_._3).sum
      by.values.foreach { b =>
        assert(b._3 >= total / 5 && b._3 <= total / 2 + 1, s"$l unbalanced: $b")
      }
    }
    // the partition covers the corpus exactly once
    assert(rows.map(_._3).sum == lake.documents.count())
  }

  test("line dedup: frequent lines struck everywhere, untouched docs round-trip") {
    val docs = lake.documents.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), s"promo ${r.getString(2)} banner. ${r.getString(1)}. copyright footer"))
    val split = docs.map { case (id, t) => id -> t.split("\\. ", -1).toSeq }.toMap
    val df = split.toSeq.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val rows = TextAnalysis.txt26LineDedup(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.length == docs.length, "not every doc reported")
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    rows.foreach { case (id, nLines, nKept, fp) =>
      val ls = split(id)
      assert(nLines == ls.length)
      val expectKept = ls.filter(l => df(l) < 3)
      assert(nKept == expectKept.length, s"doc $id kept $nKept != ${expectKept.length}")
      // reassembly is in original order — fp must match the reference
      assert(fp == md5(expectKept.mkString(". ")), s"doc $id fp mismatch")
      if (nKept == nLines)
        assert(fp == md5(split(id).mkString(". ")), s"doc $id did not round-trip")
    }
    // the planted boilerplate corpus actually exercises the strike path
    assert(rows.exists(r => r._3 < r._2), "no line was ever dropped")
  }

  test("unigram model cap: bit-identical below the cap, top-K dropped-tail semantics above it") {
    import graft.functions.text
    import org.apache.spark.sql.functions.{explode, lit, sum => ssum, count => scount}
    // driver-side reference corpus: same tokenizer, full counts
    val wc = lake.documents
      .select(explode(text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(scount(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = wc.size
    val full = TextAnalysis.txt15UnigramLogprob(lake).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // (1) a cap at exactly the vocabulary size is the identity — every
    // row bit-equal to the default (effectively uncapped) form
    val atCap = TextAnalysis.txt15UnigramLogprob(lake, maxModel = vocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(atCap.toSeq == full.toSeq, "cap == vocab changed the result")
    // (2) over-cap: only the top-K words score; p(w) keeps the
    // FULL-corpus denominator, and out-of-model tokens vanish from
    // both n_tokens and the sum (the documented dropped-tail rule)
    val k = math.max(1, vocab / 3)
    val total = wc.values.map(_.toDouble).sum
    val kept = wc.toSeq.sortBy { case (w, c) => (-c, w) }.take(k).toMap
    val expected = lake.documents
      .select(col("doc_id"), text.tokens(col("text")).as("ws"))
      .collect()
      .map { r =>
        val ws = r.getSeq[String](1).filter(kept.contains)
        val s = ws.map(w => -math.log(kept(w).toDouble / total)).sum
        (r.getLong(0), ws.length.toLong, s)
      }
      .filter(_._2 > 0L)
      .map { case (id, n, s) =>
        (id, n, BigDecimal(s / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy(_._1)
    val capped = TextAnalysis.txt15UnigramLogprob(lake, maxModel = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.map(t => (t._1, t._2)).toSeq == expected.map(t => (t._1, t._2)).toSeq,
      "capped n_tokens diverged from the dropped-tail reference")
    capped.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-9, s"doc ${g._1}: ${g._3} vs ${e._3}")
    }
    // the cap actually bit — some docs lost tokens
    assert(capped.map(_._2).sum < full.map(_._2).sum, "cap had no effect")
    // (3) txt21 honors the same cap: scores stay finite and the kept
    // token counts shrink monotonically with the cap
    val d21full = TextAnalysis.txt21DsirImportance(lake).collect().map(_.getLong(1)).sum
    val d21cap = TextAnalysis.txt21DsirImportance(lake, maxModel = k)
      .collect().map(_.getLong(1)).sum
    assert(d21cap < d21full, "txt21 cap had no effect")
  }

  test("DSIR importance: target-domain docs outscore the rest on average") {
    // The importance weight is built to rank target-looking text above
    // the raw mix: docs actually drawn from the target source carry
    // tokens whose target-model probability is inflated relative to
    // the corpus model, so their mean log-likelihood-ratio must exceed
    // the non-target mean. (A flat score here would mean the weight
    // carries no signal and selection degenerates to uniform.)
    val scored = TextAnalysis
      .txt21DsirImportance(lake)
      .join(lake.documents.select(col("doc_id"), col("source")), "doc_id")
    val Seq(tgtAvg, restAvg) = Seq("source = 'src0'", "source <> 'src0'")
      .map(p => scored.filter(p).agg(avg("avg_llr")).head().getDouble(0))
    assert(
      tgtAvg > restAvg,
      s"target mean LLR $tgtAvg not above non-target mean $restAvg"
    )
    // Weights are finite everywhere (smoothing covers unseen-in-target
    // words): no nulls/NaN in the scored output.
    assert(scored.filter(col("avg_llr").isNull || col("avg_llr").isNaN).count() == 0)
  }

  test("boilerplate: fractions bounded, planted duplicate group scores high, organic text scores zero") {
    val rows = TextAnalysis
      .txt22Boilerplate(lake)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == lake.documents.count())
    rows.foreach { case (id, nw, nb, frac) =>
      assert(nb <= nw, s"doc $id boiler windows exceed total")
      assert(frac >= 0.0 && frac <= 1.0, s"doc $id frac $frac")
    }
    // the corpus plants an exact-duplicate group of >= minDocs docs:
    // its members share every window, so at least one doc must flag
    // as near-total boilerplate while the organic bulk stays at zero
    assert(rows.exists(_._4 > 0.9), "no high-boilerplate doc found")
    assert(rows.count(_._4 == 0.0) > rows.length / 2, "organic docs not at zero")
  }

  test("quality panel: one-scan signals equal the standalone operators' values") {
    // The map-only panel must agree signal-for-signal with the
    // shuffle-based formulations it replaces: txt14's repetition,
    // txt20's verdict and txt02's language vote.
    val panel = TextAnalysis
      .txt24QualityPanel(lake)
      .collect()
      .map(r =>
        r.getLong(0) ->
          (r.getDouble(7), r.getBoolean(8), r.getString(5))
      )
      .toMap
    val rep = TextAnalysis
      .txt14Repetition(lake)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(3))
      .toMap
    val verdict = TextAnalysis
      .txt20GopherFilter(lake)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("passes"))
      .toMap
    val langs = TextAnalysis
      .txt02LangId(lake)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[String]("pred_lang"))
      .toMap
    rep.foreach { case (id, frac) =>
      assert(panel(id)._1 == frac, s"doc $id repetition mismatch")
    }
    verdict.foreach { case (id, p) =>
      assert(panel(id)._2 == p, s"doc $id verdict mismatch")
    }
    langs.foreach { case (id, l) =>
      assert(panel(id)._3 == l, s"doc $id language mismatch")
    }
  }

  test("gopher rules and language vote: verdict and panel agree on hand-made boundary rows") {
    // gopherVerdict and qualityPanel read one rule list and one vote;
    // these rows sit on each comparison's edge (< vs >=), where a
    // flipped direction would change a verdict
    import spark.implicits._
    import graft.functions.text
    def ws(n: Int, w: String): Seq[String] = Seq.fill(n)(w)
    // (doc_id, tokens, expected fail_reasons, expected pred_lang)
    val rows: Seq[(Long, Seq[String], String, String)] = Seq(
      (1L, Seq("the", "of") ++ ws(48, "abcd"), "", "en"), // 50 tokens
      (2L, Seq("the", "of") ++ ws(47, "abcd"), "too_short", "en"), // 49
      (3L, Seq("the", "of") ++ ws(99998, "abcd"), "", "en"), // 100000
      (4L, Seq("the", "of") ++ ws(99999, "abcd"), "too_long", "en"), // 100001
      (5L, Seq("the", "and") ++ ws(48, "abc"), "", "en"), // mean exactly 3
      (6L, Seq("the", "and") ++ ws(47, "abc") :+ "ab", "mean_len", "en"), // 2.98
      (7L, Seq("the", "and") ++ ws(47, "abcdefghij") :+ ("x" * 24), "", "en"), // mean exactly 10
      (8L, Seq("the", "and") ++ ws(47, "abcdefghij") :+ ("x" * 25), "mean_len", "en"), // 10.02
      (9L, Seq("the", "of") ++ ws(43, "abcd") ++ ws(5, "!!!"), "symbol", "en"), // ratio exactly 0.1
      (10L, Seq("the", "of") ++ ws(44, "abcd") ++ ws(4, "!!!"), "", "en"), // 0.08
      (11L, Seq("the", "the") ++ ws(48, "abcd"), "stopword", "en"), // 1 distinct stopword
      (12L, Seq("the", "of", "der", "die") ++ ws(46, "abcd"), "", "en"), // en/de tie
      (13L, Seq("der", "el") ++ ws(48, "abcd"), "stopword", "de"), // de/es tie
      (14L, Seq("el", "le") ++ ws(48, "abcd"), "stopword", "es"), // es/fr tie
      (15L, Seq("le", "les", "the") ++ ws(47, "abcd"), "stopword", "fr"), // fr most
      (16L, ws(50, "abcd"), "stopword", "en"), // no markers
      (17L, ws(10, "!"), "too_short,mean_len,symbol,stopword", "en")
    )
    val docs = rows.map { case (id, toks, _, _) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val verdict = TextAnalysis.gopherVerdict(docs).collect().map(r => r.getLong(0) -> r).toMap
    val panel = TextAnalysis.qualityPanel(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(verdict.size == rows.size && panel.size == rows.size)
    rows.foreach { case (id, toks, reasons, lang) =>
      val (v, p) = (verdict(id), panel(id))
      Seq("n_tokens", "mean_tok_len", "symbol_ratio", "n_stop_distinct", "passes").foreach { c =>
        assert(v.getAs[Any](c) == p.getAs[Any](c),
          s"doc $id $c: verdict ${v.getAs[Any](c)} vs panel ${p.getAs[Any](c)}")
      }
      assert(v.getAs[String]("fail_reasons") == reasons, s"doc $id fail_reasons")
      assert(v.getAs[Boolean]("passes") == reasons.isEmpty, s"doc $id passes")
      // the vote: most markers wins, ties to the earlier of en, de, es, fr
      val counts = text.langMarkers.map { case (l, m) => l -> toks.count(m.contains) }
      assert(Seq("en", "de", "es", "fr").maxBy(counts) == lang, s"doc $id fixture")
      assert(p.getAs[String]("pred_lang") == lang, s"doc $id pred_lang")
    }
  }

  test("langid confusion: cells partition the corpus and label totals are consistent") {
    val rows = Evaluation
      .eval03LangidConfusion(lake)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum == lake.documents.count())
    rows.groupBy(_._1).foreach { case (lang, cells) =>
      val total = cells.head._4
      assert(cells.forall(_._4 == total), s"$lang label_total inconsistent")
      assert(cells.map(_._3).sum == total, s"$lang cells do not sum to total")
    }
  }

  test("char entropy: exact on known distributions, code-point counted, corpus-bounded") {
    import spark.implicits._
    val probe = Seq(
      "aaaa",          // degenerate: one symbol, entropy 0
      "abab",          // uniform over 2 symbols: exactly 1 bit
      "abcdabcd",      // uniform over 4 symbols: exactly 2 bits
      "a𝄞", // astral clef is ONE code point: n_cp 2, 1 bit
      ""               // empty: all zeros
    ).toDF("text")
    val rows = probe
      .select(graft.plans.CharInfo(col("text")).as("ci"))
      .select("ci.n_cp", "ci.n_uniq", "ci.entropy")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows(0) == ((4L, 1L, 0.0)))
    assert(rows(1)._1 == 4L && rows(1)._2 == 2L && math.abs(rows(1)._3 - 1.0) < 1e-12)
    assert(rows(2)._1 == 8L && rows(2)._2 == 4L && math.abs(rows(2)._3 - 2.0) < 1e-12)
    assert(rows(3)._1 == 2L && rows(3)._2 == 2L && math.abs(rows(3)._3 - 1.0) < 1e-12)
    assert(rows(4) == ((0L, 0L, 0.0)))
    // corpus-wide: entropy bounded by log2(alphabet), counts positive
    val corpus = TextAnalysis.txt27CharEntropy(lake).collect()
    assert(corpus.length == lake.documents.count())
    corpus.foreach { r =>
      val (n, u, e) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n > 0 && u > 0 && u <= n)
      assert(e >= 0.0 && e <= math.log(u.toDouble) / math.log(2.0) + 1e-9,
        s"entropy $e above log2($u)")
    }
  }

  test("model quality: exact replay of the hashed linear classifier") {
    // Brute-force re-derivation of txt29 in plain Scala: same md5
    // bucket hash, same integer milli-weights, same HALF_UP rounding.
    def hex32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expected = lake.documents.select("doc_id", "text").collect().map { r =>
      val ws = r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
      val feats = ws.toSeq ++ ws.iterator.sliding(2).withPartial(false).map(_.mkString(" "))
      val s = feats.map(f => hex32(f) % 4096 * 2654435761L % 2001 - 1000).sum
      val q = java.math.BigDecimal
        .valueOf(s / 1000.0 / feats.length)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .doubleValue
      r.getLong(0) -> ((feats.length.toLong, q, q > 0))
    }.toMap
    val got = TextAnalysis.txt29ModelQuality(lake).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(got == expected, "classifier differs from plain-Scala replay")
    // the stub weights are balanced: both classes occur on a real corpus
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("ngram novelty equals a brute-force first-seen scan; earliest doc is all-novel") {
    val k = 8
    val docs = lake.documents
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.replaceAll("\\s+", " ").split(" "))
      .filter(_._2.length >= k)
    val windows = docs.flatMap { case (id, w) =>
      (0 to w.length - k).map(p => (w.slice(p, p + k).mkString(" "), id))
    }
    val firstSeen = windows.groupBy(_._1).map { case (g, occ) => g -> occ.map(_._2).min }
    val expected = windows.groupBy(_._2).map { case (id, ws) =>
      val rep = ws.count(w => firstSeen(w._1) < id)
      id -> ((ws.length.toLong, rep.toLong,
        math.rint(10000.0 * rep / ws.length) / 10000))
    }
    val got = TextAnalysis.txt28NgramNovelty(lake).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == expected, "novelty differs from brute-force scan")
    // the earliest doc can repeat nothing; fractions bounded
    assert(got(docs.map(_._1).min)._2 == 0L)
    got.values.foreach { case (n, rep, f) =>
      assert(rep <= n && f >= 0.0 && f <= 1.0)
    }
  }

  test("exact quota: exactly min(k, |stratum|) per lang, heap ≡ window form, seed re-deals") {
    import org.apache.spark.sql.functions._
    val k = 20
    val rows = TextAnalysis.samp13ExactQuota(lake, k).collect()
    val perLang = rows.groupBy(_.getString(0))
    val sizes = lake.documents.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (lang, n) =>
      val got = perLang.get(lang).map(_.length).getOrElse(0)
      assert(got == math.min(k.toLong, n), s"$lang: $got of $n")
    }
    // ranks are 1..quota and ordered by (u, doc_id) — the heap output
    // must be row-identical to the ROW_NUMBER formulation
    perLang.foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq, lang)
      val pairs = sorted.map(r => (r.getLong(3), r.getLong(2)))
      assert(pairs.toSeq == pairs.sortBy(identity).toSeq, s"$lang not (u, id) ordered")
    }
    // same k docs per lang regardless of partitioning (determinism)
    val again = TextAnalysis.samp13ExactQuota(lake, k).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(again == rows.map(r => (r.getString(0), r.getLong(2))).toSet)
    // a different seed re-ranks: membership must actually change
    val reseed = TextAnalysis.samp13ExactQuota(lake, k, seed = 8).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(reseed != again, "seed 8 selected the identical sample")
  }

  test("dist drift: psi non-negative, identical halves score ~0, planted drift flags") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Evaluation.eval08DistDrift(lake).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"negative psi: $r")
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total == lake.documents.count())
    // plant a drifted source in a copy of the lake: one source's
    // docs truncated to a constant tiny length — its length
    // distribution departs from the corpus and PSI must flag it
    val dir = java.nio.file.Files.createTempDirectory("eval08_lake").toString
    val src0 = lake.documents.select("source").orderBy("source").first().getString(0)
    lake.documents
      .withColumn(
        "n_chars",
        when(col("source") === src0, lit(3L)).otherwise(col("n_chars"))
      )
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      lake.table(t).limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val planted = graft.operators.Evaluation
      .eval08DistDrift(graft.catalog.Lake(TestSpark.spark, dir))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    val (psi0, drifted0) = planted(src0)
    assert(drifted0 && psi0 >= 0.2, s"$src0 psi $psi0 not flagged")
    // an un-tampered source stays below the planted one
    planted.filterNot(_._1 == src0).foreach { case (s, (p, _)) =>
      assert(p < psi0, s"$s psi $p >= planted $psi0")
    }
  }
}
