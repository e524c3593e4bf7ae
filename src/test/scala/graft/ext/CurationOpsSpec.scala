package graft.ext

import graft.{SparkEntry, SparkSpec}

/** Invariant pins for the three r17 second-wave curation operators
  * (each oracle-gated end-to-end at sf0.01; these pin the algebraic
  * shape a refactor could silently break).
  */
class CurationOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Run `q` again after a clear: every block it pins is query-scoped,
    * so nothing may outlive the second clear (the first run built the
    * session memos it reads).
    */
  private def leavesNoBlocks(q: String): Unit = {
    def persistentIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    graft.Caches.clearPersisted()
    val snapshot = persistentIds
    SparkEntry.queries(q)(spark, dir).collect()
    graft.Caches.clearPersisted()
    val added = persistentIds -- snapshot
    assert(added.isEmpty, s"$q left persistent RDDs $added")
  }

  test("curate_prototype_prune: keeps ceil(n/2) hardest, kept ≥ cut ≥ pruned") {
    val rows = SparkEntry.queries("curate_prototype_prune")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    rows.foreach { r =>
      val (n, nKeep) = (r.getLong(1), r.getLong(2))
      assert(nKeep == (n + 1) / 2, s"cluster ${r.get(0)}: n_keep $nKeep != ceil($n/2)")
      val kept = r.getDouble(3)
      val cut = r.getDouble(5)
      // cut is the SMALLEST kept distance, so the kept mean bounds it
      assert(kept >= cut - 1e-6, s"mean_dist_kept $kept < cut_dist $cut")
      if (!r.isNullAt(4)) {
        // every pruned distance sits below the boundary
        assert(r.getDouble(4) <= cut + 1e-6,
          s"mean_dist_pruned ${r.getDouble(4)} > cut_dist $cut")
      }
    }
  }

  test("decon_min_k_prob: bottom-20% mean sits at or below the full lm_score") {
    val mk = SparkEntry.queries("decon_min_k_prob")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(mk.nonEmpty)
    mk.foreach { case (d, (n, k, _)) =>
      assert(k == (n + 4) / 5, s"doc $d: k_lowest $k != ceil($n/5)")
    }
    val lm = SparkEntry.queries("text_lm_score")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    mk.foreach { case (d, (_, _, score)) =>
      assert(score <= lm(d) + 1e-5,
        s"doc $d: min_k_score $score above full mean ${lm(d)}")
    }
  }

  test("tok_unigram_em: hard-EM never lowers likelihood, prunes the vocab") {
    val rows = SparkEntry.queries("tok_unigram_em")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 2)
    val Array(r0, r1) = rows
    // M-step keeps only used pieces; re-segmentation can't use more
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1),
      s"n_used ${r.getLong(2)} > n_vocab ${r.getLong(1)}"))
    assert(r1.getLong(1) == r0.getLong(2), "iter-1 vocab must be iter-0 usage")
    assert(r0.getLong(3) == r1.getLong(3), "word mass must be conserved")
    // hard-EM guarantee: L(θ1, seg1) ≥ L(θ1, seg0) ≥ L(θ0, seg0);
    // slack = the q6 per-word pin (≤ 0.5 units × word mass)
    assert(r1.getLong(6) >= r0.getLong(6) - r0.getLong(3),
      s"likelihood fell: ${r0.getLong(6)} -> ${r1.getLong(6)}")
    rows.foreach(r => assert(r.getDouble(5) >= 1.0, "fertility below 1"))
  }

  test("quality_label_propagation: seeds clamp, propagated mass stays in [0,1]") {
    val rows = SparkEntry.queries("quality_label_propagation")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (seed, fInit, fProp) = (r.getInt(1), r.getDouble(2), r.getDouble(3))
      assert(Set(0.0, 0.5, 1.0)(fInit), s"f_init $fInit not a valid start")
      if (seed == 1) assert(fProp == fInit, s"seed moved: $fInit -> $fProp")
      assert(fProp >= 0.0 && fProp <= 1.0, s"f_prop $fProp out of [0,1]")
    }
  }

  test("eval_pass_at_k: monotone in k, bounded, shared task count") {
    val rows = SparkEntry.queries("eval_pass_at_k")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 5L, 10L))
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    rows.foreach(r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // pass@k is nondecreasing in k for EVERY task, hence in the mean
    rows.sliding(2).foreach { case Array(p, n) =>
      assert(n.getDouble(2) >= p.getDouble(2) - 1e-9,
        s"pass@${n.getLong(0)} < pass@${p.getLong(0)}")
    }
  }

  test("tok_wordpiece_train: ranked merges, spelled pairs, valid scores") {
    val rows = SparkEntry.queries("tok_wordpiece_train")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    rows.foreach { r =>
      assert(r.getString(1).nonEmpty &&
        r.getString(1).forall(c => c >= 'a' && c <= 'z'),
        s"pair ${r.getString(1)} not spelled to a-z")
      assert(r.getLong(2) > 0)
      // score = count(ab)/(count(a)count(b)) <= 1 since the pair
      // count can't exceed either unit count
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    // later merges build on earlier ones: spelled pairs are distinct
    assert(rows.map(_.getString(1)).distinct.length == rows.length)
  }

  test("events_did: estimate is the exact double-difference of cell means") {
    val r = SparkEntry.queries("events_did")(spark, dir).head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    // the DiD estimate must be EXACTLY the double-difference of the
    // emitted cell means (same doubles, fixed op order)
    val did = (r.getDouble(3) - r.getDouble(2)) -
      (r.getDouble(5) - r.getDouble(4))
    assert(r.getDouble(6) == did, s"did ${r.getDouble(6)} != $did")
    assert(!r.getDouble(7).isNaN, "placebo must be defined")
  }

  test("text_good_turing: head identities and unseen mass") {
    val rows = SparkEntry.queries("text_good_turing")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val byR = rows.map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      assert(r.getLong(0) >= 1 && r.getLong(0) <= 10)
      assert(r.getLong(1) > 0)
      assert(r.getLong(3) > 0 && r.getLong(4) > 0)
    }
    // frequency-of-frequencies cannot exceed the vocabulary
    assert(rows.map(_.getLong(1)).sum <= rows.head.getLong(4))
    // P0 = N_1 / N exactly (when the singleton row exists)
    byR.get(1L).foreach { r1 =>
      assert(r1.getDouble(5) ==
        r1.getLong(1).toDouble / r1.getLong(3).toDouble)
    }
    // r* = (r+1) N_{r+1} / N_r wherever both ranks exist
    rows.foreach { r =>
      byR.get(r.getLong(0) + 1) match {
        case Some(nx) if !r.isNullAt(2) =>
          val expect = (r.getLong(0) + 1).toDouble *
            nx.getLong(1).toDouble / r.getLong(1).toDouble
          assert(r.getDouble(2) == expect)
        case _ => ()
      }
    }
  }

  test("stats_kendall_tau: pair classes partition C(n,2), tau in range") {
    val r = SparkEntry.queries("stats_kendall_tau")(spark, dir).head()
    val n = r.getLong(0)
    assert(r.getLong(1) == n * (n - 1) / 2)
    // concordant + discordant + all tie classes = every pair, exactly
    assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) +
      r.getLong(6) == r.getLong(1), "pair classes must partition pairs")
    assert(math.abs(r.getDouble(7)) <= 1.0)
    // price rises with quantity on lineitem — the association is real
    assert(r.getDouble(7) > 0.0, "tau sign flipped")
  }

  test("stats_theil_sen: bounded sample, integer-cent pins, sane pairs") {
    val r = SparkEntry.queries("stats_theil_sen")(spark, dir).head()
    val n = r.getLong(0)
    assert(n > 0 && n <= 256)
    assert(r.getLong(1) <= n * (n - 1) / 2, "pairs exceed C(n,2)")
    // the integer-cent pin: both medians are whole numbers by
    // construction — a drifted pin shows up as a fraction here
    assert(r.getDouble(2) == math.rint(r.getDouble(2)))
    assert(r.getDouble(3) == math.rint(r.getDouble(3)))
    assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite)
  }

  test("curate_kcenter_coreset: greedy trajectory contracts, picks are the radius") {
    val rows = SparkEntry.queries("curate_kcenter_coreset")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).distinct.length == 8, "picks must be distinct")
    assert(rows.head.isNullAt(3), "seed has no pick distance")
    rows.tail.foreach(r => assert(!r.isNullAt(3)))
    rows.sliding(2).foreach { case Array(p, n) =>
      // coverage radius and mean distance can only shrink as centers
      // are added (the min over a growing set)
      assert(n.getDouble(4) <= p.getDouble(4) + 1e-9, "radius grew")
      assert(n.getDouble(5) <= p.getDouble(5) + 1e-9, "mean distance grew")
      // THE greedy identity: the next pick is the farthest survivor,
      // so its distance equals the previous coverage radius
      assert(math.abs(n.getDouble(3) - p.getDouble(4)) < 1e-9,
        s"step ${n.getLong(0)}: pick dist ${n.getDouble(3)} != prev radius ${p.getDouble(4)}")
    }
    leavesNoBlocks("curate_kcenter_coreset")
  }

  test("ml_knn_shapley: bounded values, distinct points, deterministic") {
    val df = SparkEntry.queries("ml_knn_shapley")(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // a single training point's Shapley value for a [0,1]-utility is
    // itself within [-1, 1]
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0))
    // the q15-pinned integer pipeline must make the whole fit
    // bit-deterministic across runs
    val again = SparkEntry.queries("ml_knn_shapley")(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
  }

  test("ml_isotonic_calibration: monotone, bounded, mean-preserving") {
    val rows = SparkEntry.queries("ml_isotonic_calibration")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // THE isotonic property: the fit never decreases across bins
    rows.sliding(2).foreach { case Array(p, n) =>
      assert(n.getDouble(4) >= p.getDouble(4) - 1e-12,
        s"iso decreased at bin ${n.getLong(0)}")
    }
    // PAVA preserves the weighted mean: sum n_i * iso_i = sum positives
    val fitted = rows.map(r => r.getLong(1) * r.getDouble(4)).sum
    val pos = rows.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(fitted - pos) <= 1e-6 * pos + 1e-9,
      s"weighted mean not preserved: $fitted vs $pos")
    // and the fit is a genuine projection: it differs from the raw
    // rates only where monotonicity forced pooling
    rows.sliding(2).foreach { case Array(p, n) =>
      if (p.getDouble(3) <= n.getDouble(3)) () // already ordered - fine
    }
  }

  test("text_readability: counts partition the corpus, grades plausible") {
    val rows = SparkEntry.queries("text_readability")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == nDocs, s"scored+unscored $total != $nDocs docs")
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"source ${r.getString(0)} scored nothing")
      // ARI/CLI are unbounded in theory but land in grade-ish ranges
      // on any natural-language corpus; a sign flip or a swapped
      // coefficient lands far outside
      assert(r.getDouble(3) > -25.0 && r.getDouble(3) < 60.0,
        s"mean_ari ${r.getDouble(3)} implausible")
      assert(r.getDouble(4) > -25.0 && r.getDouble(4) < 60.0,
        s"mean_cli ${r.getDouble(4)} implausible")
    }
  }

  test("ml_conformal_split: marginal coverage meets the 90% guarantee") {
    val r = SparkEntry.queries("ml_conformal_split")(spark, dir).head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getLong(2) > 0)
    assert(r.getDouble(3) >= 0.0, "q-hat is a nonconformity radius")
    assert(r.getLong(4) <= r.getLong(2))
    // the conformal guarantee is P(cover) ≥ 1−α over the joint draw;
    // on one finite split allow binomial slack ~3σ below the target
    val n = r.getLong(2).toDouble
    val slack = 3.0 * math.sqrt(0.9 * 0.1 / n)
    assert(r.getDouble(5) >= 0.9 - slack,
      s"coverage ${r.getDouble(5)} below 0.9 - $slack")
  }

  test("graph_mst_boruvka: forest identity holds every round") {
    val rows = SparkEntry.queries("graph_mst_boruvka")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 3)
    rows.foreach { r =>
      // THE forest/acyclicity identity: each distinct chosen edge
      // merges exactly two trees, so components drop one per edge
      assert(r.getLong(4) == r.getLong(1) - r.getLong(2),
        s"round ${r.getLong(0)}: after ${r.getLong(4)} != before - added")
      if (r.getLong(2) > 0) assert(r.getLong(3) > 0, "edges must cost")
      assert(r.getBoolean(5) == (r.getLong(1) == r.getLong(4)))
    }
    rows.sliding(2).foreach { case Array(p, n) =>
      assert(n.getLong(1) == p.getLong(4),
        "next round must start from the previous components")
    }
    leavesNoBlocks("graph_mst_boruvka")
  }

  test("graph_mis_luby: ledger balances, actives shrink, convergence absorbs") {
    val rows = SparkEntry.queries("graph_mis_luby")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 5)
    rows.foreach { r =>
      // before = added + neighbors-removed + after, every round
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"round ${r.getLong(0)} ledger does not balance")
      // Luby guarantee: while anything is active, the globally
      // lowest-priority active node always joins
      if (r.getLong(1) > 0) assert(r.getLong(2) > 0)
      assert(r.getBoolean(5) == (r.getLong(4) == 0L))
    }
    rows.sliding(2).foreach { case Array(p, n) =>
      assert(n.getLong(1) == p.getLong(4),
        "next round must start from the previous actives")
      if (p.getBoolean(5)) assert(n.getBoolean(5), "convergence must absorb")
    }
    leavesNoBlocks("graph_mis_luby")
  }

  test("graph_spectral_fiedler: deflation absorbs, spectrum bounds hold") {
    val rows = SparkEntry.queries("graph_spectral_fiedler")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 4)
    // the node count is invariant across iterations
    val ns = rows.map(r => r.getLong(3) + r.getLong(4)).distinct
    assert(ns.length == 1 && ns.head > 0)
    // after the first deflation removed the v1 component, later
    // deflation coefficients are numerical residue only
    rows.tail.foreach(r => assert(math.abs(r.getDouble(1)) < 1e-4,
      s"iter ${r.getLong(0)}: deflation ${r.getDouble(1)} not absorbed"))
    // Rayleigh quotients of the normalized adjacency live in [-1, 1]
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // both sides of the bisection are nonempty (a sign-collapsed
    // vector would mean the iteration degenerated)
    rows.foreach(r => assert(r.getLong(3) > 0 && r.getLong(4) > 0))
    leavesNoBlocks("graph_spectral_fiedler")
  }

  test("graph_ktruss: peeling is monotone and convergence is absorbing") {
    val rows = SparkEntry.queries("graph_ktruss")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getLong(1) - r.getLong(2) == r.getLong(3),
        "before - removed must equal remaining")
      assert(r.getBoolean(4) == (r.getLong(2) == 0L))
    }
    rows.sliding(2).foreach { case Array(p, n) =>
      assert(n.getLong(1) == p.getLong(3),
        "next round must start from the previous survivors")
      // once a fixpoint is hit, peeling can never remove again
      if (p.getBoolean(4)) assert(n.getBoolean(4))
    }
  }

  test("sample_split_leakfree: grouped split leaks zero near-dup pairs") {
    val r = SparkEntry.queries("sample_split_leakfree")(spark, dir).head()
    assert(r.getLong(1) + r.getLong(2) == r.getLong(0),
      "train + test must partition the corpus")
    assert(r.getLong(3) <= r.getLong(0), "groups cannot outnumber docs")
    // THE property: splitting by duplicate group leaves no near-dup
    // pair straddling the boundary
    assert(r.getLong(6) == 0L,
      s"grouped split leaked ${r.getLong(6)} pairs")
    assert(r.getLong(5) >= r.getLong(6),
      "naive split cannot leak less than the grouped split")
  }

  test("quality_dawid_skene: three raters, probabilities in range, shared prior") {
    val rows = SparkEntry.queries("quality_dawid_skene")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    rows.foreach { r =>
      (1 to 6).foreach { i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0,
          s"param $i out of [0,1]: ${r.getDouble(i)}")
      }
    }
    // the class prior is corpus-level — identical on every rater row
    assert(rows.map(_.getDouble(5)).distinct.length == 1)
    assert(rows.map(_.getDouble(6)).distinct.length == 1)
  }

  test("events_psm_stratified: quintiles partition users, shares sum, balance holds") {
    val rows = SparkEntry.queries("events_psm_stratified")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty && rows.length <= 5)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length))
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1),
        "treated + control must partition the subclass")
      // the propensity fit must rank subclasses: treated share should
      // correlate with the subclass's own mean propensity ordering —
      // pinned loosely as: within a subclass both arms' mean scores
      // sit in [0,1]
      Seq(7, 8).filterNot(r.isNullAt).foreach { i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0)
      }
    }
    // quintile ids come from a global rank: sizes differ by at most 5
    // (the ceil boundaries), and every user lands somewhere
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 5, s"unbalanced quintiles: ${sizes.toSeq}")
  }

  test("tok_unigram_viterbi: pieces rebuild the word and beat no valid split") {
    val rows = SparkEntry.queries("tok_unigram_viterbi")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val word = r.getString(0)
      val pieces = r.getString(3).split('|')
      assert(pieces.mkString("") == word,
        s"segmentation ${r.getString(3)} does not rebuild $word")
      assert(r.getLong(2) == pieces.length.toLong)
      assert(pieces.forall(p => p.nonEmpty && p.length <= 4))
      // log-prob of a real segmentation is strictly negative and no
      // worse than one raw char-by-char lower bound would allow
      assert(r.getDouble(4) < 0.0)
      assert(r.getLong(2) <= word.length.toLong)
    }
  }
}
