package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-pattern mining — the market-basket and sequential faces the
  * events/orders analytics family lacked (reference scope: the engine's
  * corpus/orders tables; the algorithms are the published classics).
  *
  * Scale design (100 TB story): both miners are CANDIDATE-DRIVEN.
  * [[frequentTriples]] is A-priori level 3 (Agrawal & Srikant, VLDB'94)
  * — within-basket pairs are semi-joined against the broadcast
  * frequent-pair table before any third item is considered, so the
  * quadratic/cubic basket expansion only ever materializes survivors of
  * the support prune. [[frequentSequences]] mines subsequence patterns
  * (PrefixSpan semantics, Pei et al., ICDE'01, bounded at length 3) via
  * the greedy-automaton containment rule: a pattern test never touches
  * the raw sequence, only per-(sequence, type) first/last positions and
  * the first-b-after-first-a frontier — sequences × |Σ|³ bounded work,
  * never length³, with A-priori pruning on prefixes.
  */
object Mining {

  /** Frequent 3-itemsets with all-confidence (Omiecinski, TKDE'03).
    * Input `baskets`: (o: basket id, p: item id) — duplicates fine
    * (the set build dedups). Output: (p1 < p2 < p3, support,
    * all_conf = support / max item support, 6dp) — each triple counted
    * once via the canonical ordering, no dedup pass.
    *
    * r18 shape: baskets collapse to ONE sorted-set row per basket
    * (the copurchaseEdgesMemo build), and pairs/triples come from
    * bounded posexplode chains over that set (i < j < k) instead of
    * basket self-joins — the r17 form exchanged the basket table twice
    * and re-ran the pair self-join per consumer branch (the 15.7 s
    * task-time stage in the r18 StageProfile of orders_basket_rules).
    * Identical rows by construction: a sorted set's (i < j) positions
    * enumerate exactly the a.p < c.p distinct pairs.
    *
    * @param prePairSup a donated (p1, p2, sup2) table (the co-purchase
    *   memo's). Unchecked contract: one row per distinct pair p1 < p2,
    *   sup2 = how many baskets of exactly THIS `baskets` input hold both
    *   (once per basket); anything else silently changes the output.
    */
  def frequentTriples(baskets: DataFrame, minsup: Long,
      prePairSup: Option[DataFrame] = None): DataFrame = {
    val sets = graft.Caches.persist(baskets.select("o", "p")
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps")))
    val itemSup = graft.Caches.persist(sets
      .select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("isup")))
    val e2 = sets.select(col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("ps"), col("p1"), col("i"),
        posexplode(col("ps")).as(Seq("j", "p2")))
      .filter(col("j") > col("i"))
    val pairSup = prePairSup.getOrElse(e2.select("p1", "p2")
      .groupBy("p1", "p2").agg(count(lit(1)).as("sup2")))
    val freqPairs = graft.Caches.persist(pairSup
      .filter(col("sup2") >= minsup)
      .select("p1", "p2"))
    val triples = e2
      .join(broadcast(freqPairs), Seq("p1", "p2"), "left_semi")
      .select(col("p1"), col("p2"), col("j"),
        posexplode(col("ps")).as(Seq("k", "p3")))
      .filter(col("k") > col("j"))
      .join(broadcast(freqPairs.select(col("p1").as("p2"), col("p2").as("p3"))),
        Seq("p2", "p3"), "left_semi")
      .join(broadcast(freqPairs.select(col("p1"), col("p2").as("p3"))),
        Seq("p1", "p3"), "left_semi")
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minsup)
    triples
      .join(broadcast(itemSup.select(col("p").as("p1"), col("isup").as("s1"))), "p1")
      .join(broadcast(itemSup.select(col("p").as("p2"), col("isup").as("s2"))), "p2")
      .join(broadcast(itemSup.select(col("p").as("p3"), col("isup").as("s3"))), "p3")
      .select(col("p1"), col("p2"), col("p3"), col("support"),
        round(col("support").cast("double") /
          greatest(col("s1"), col("s2"), col("s3")).cast("double"), 6)
          .as("all_conf"))
      .orderBy("p1", "p2", "p3")
  }

  /** Association rules from the frequent pair/triple tables — the
    * actionable output layered on [[frequentTriples]]' itemsets
    * (Agrawal & Srikant, VLDB'94 §3): pair rules A→B from pairs with
    * support ≥ `minsupPair`, and triple rules {A,B}→C from triples
    * with support ≥ `minsupTriple`. Confidence = sup(rule)/sup(
    * antecedent) pinned to 6dp; lift = conf·N/sup(consequent) computed
    * FROM the pinned confidence (fixed float shape, engine-identical).
    * Scale: the same candidate-driven counting as [[frequentTriples]];
    * rule expansion (≤2 directions per pair, 3 per triple) is
    * arithmetic over the already-bounded frequent tables.
    * Output: (antecedent "a" | "a,b" canonical, consequent, support,
    * confidence, lift), ordered (antecedent, consequent).
    * `prePairSup` carries the [[frequentTriples]] contract.
    */
  def associationRules(baskets: DataFrame, minsupPair: Long,
      minsupTriple: Long, prePairSup: Option[DataFrame] = None): DataFrame = {
    // same r18 set-build + posexplode shape as [[frequentTriples]];
    // `prePairSup` donates the pair-support table (the co-purchase
    // memo counts exactly these pairs)
    val sets = graft.Caches.persist(baskets.select("o", "p")
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps")))
    val nb = broadcast(sets.agg(count(lit(1)).as("nb")))
    val itemSup = graft.Caches.persist(sets
      .select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("isup")))
    val e2 = sets.select(col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("ps"), col("p1"), col("i"),
        posexplode(col("ps")).as(Seq("j", "p2")))
      .filter(col("j") > col("i"))
    val pairSup = graft.Caches.persist(prePairSup.getOrElse(
      e2.select("p1", "p2").groupBy("p1", "p2")
        .agg(count(lit(1)).as("sup2"))))
    val freqPairs = graft.Caches.persist(
      pairSup.filter(col("sup2") >= minsupPair))
    val triples = e2
      .join(broadcast(pairSup.filter(col("sup2") >= minsupTriple)
        .select("p1", "p2")), Seq("p1", "p2"), "left_semi")
      .select(col("p1"), col("p2"), col("j"),
        posexplode(col("ps")).as(Seq("k", "p3")))
      .filter(col("k") > col("j"))
      .select(col("p1"), col("p2"), col("p3"))
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("sup3"))
      .filter(col("sup3") >= minsupTriple)
    // pair rules, both directions
    val pairRules = freqPairs
      .join(broadcast(itemSup.select(col("p").as("p1"), col("isup").as("s1"))), "p1")
      .join(broadcast(itemSup.select(col("p").as("p2"), col("isup").as("s2"))), "p2")
      .select(explode(array(
        struct(col("p1").cast("string").as("antecedent"),
          col("p2").as("consequent"), col("sup2").as("support"),
          col("s1").as("sa"), col("s2").as("sc")),
        struct(col("p2").cast("string").as("antecedent"),
          col("p1").as("consequent"), col("sup2").as("support"),
          col("s2").as("sa"), col("s1").as("sc")))).as("r"))
      .select(col("r.*"))
    // triple rules {x,y} → z: antecedent support = the pair's sup2
    val tr = triples
      .select(explode(array(
        struct(col("p1").as("a1"), col("p2").as("a2"), col("p3").as("consequent"),
          col("sup3").as("support")),
        struct(col("p1").as("a1"), col("p3").as("a2"), col("p2").as("consequent"),
          col("sup3").as("support")),
        struct(col("p2").as("a1"), col("p3").as("a2"), col("p1").as("consequent"),
          col("sup3").as("support")))).as("r"))
      .select(col("r.*"))
    val tripleRules = tr
      .join(broadcast(pairSup.select(col("p1").as("a1"), col("p2").as("a2"),
        col("sup2").as("sa"))), Seq("a1", "a2"))
      .join(broadcast(itemSup.select(col("p").as("consequent"),
        col("isup").as("sc"))), Seq("consequent"))
      .select(concat_ws(",", col("a1"), col("a2")).as("antecedent"),
        col("consequent"), col("support"), col("sa"), col("sc"))
    pairRules.unionByName(tripleRules)
      .crossJoin(nb)
      .withColumn("confidence",
        round(col("support").cast("double") / col("sa").cast("double"), 6))
      .select(col("antecedent"), col("consequent"), col("support"),
        col("confidence"),
        round(col("confidence") * col("nb").cast("double") /
          col("sc").cast("double"), 6).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** Frequent subsequence patterns of length 1–3 over position-indexed
    * sequences. Input `posRows`: (sid: sequence id, et: symbol,
    * pos: 1-based position, unique within sid). minsup = ceil(minsupFrac
    * × #sequences), computed in-plan (broadcast scalar). Output:
    * (length, pattern "a>b>c", support), ordered
    * (length, support desc, pattern).
    *
    * Containment is the greedy-matching rule: (a,b) ⊑ s ⟺ first(a)
    * strictly before last(b) (a=b: ≥2 occurrences); (a,b,c) ⊑ s ⟺ the
    * first b strictly after first(a) — the fab frontier — lies strictly
    * before last(c). Greedy matching is exact for subsequence tests, so
    * these bounded profiles decide every pattern without re-reading
    * sequences.
    */
  def frequentSequences(posRows: DataFrame, minsupFrac: Double): DataFrame = {
    val pr = graft.Caches.persist(posRows.select("sid", "et", "pos"))
    val prof = graft.Caches.persist(pr
      .groupBy("sid", "et")
      .agg(min("pos").as("minpos"), max("pos").as("maxpos"),
        count(lit(1)).as("cnt")))
    val nSeq = prof.select(col("sid")).distinct()
      .agg(count(lit(1)).as("n_sequences"))
    val minsup = broadcast(nSeq
      .select(ceil(col("n_sequences") * lit(minsupFrac)).cast("long").as("minsup")))
    val freq1 = graft.Caches.persist(prof.groupBy("et")
      .agg(count(lit(1)).as("support"))
      .crossJoin(minsup).filter(col("support") >= col("minsup"))
      .select("et", "support"))
    val fprof = graft.Caches.persist(prof
      .join(broadcast(freq1.select("et")), Seq("et"), "left_semi"))
    val pairPresent = fprof.as("x")
      .join(fprof.as("y"), col("x.sid") === col("y.sid"))
      .filter(when(col("x.et") === col("y.et"), col("x.cnt") >= 2L)
        .otherwise(col("x.minpos") < col("y.maxpos")))
      .select(col("x.sid").as("sid"), col("x.et").as("a"),
        col("y.et").as("b"), col("x.minpos").as("minpos_a"))
    val freq2 = graft.Caches.persist(pairPresent
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .crossJoin(minsup).filter(col("support") >= col("minsup")))
    // fab: per (sequence, frequent prefix (a,b)) the first b-position
    // strictly after a's first position — the greedy-match frontier
    val fab = pr.as("p")
      .join(pairPresent.as("pp"),
        col("p.sid") === col("pp.sid") && col("p.et") === col("pp.b") &&
          col("p.pos") > col("pp.minpos_a"))
      .join(broadcast(freq2.select(col("a"), col("b"))),
        Seq("a", "b"), "left_semi")
      .groupBy(col("pp.sid").as("sid"), col("a"), col("b"))
      .agg(min(col("p.pos")).as("fpos"))
    val triplePresent = fab.as("f")
      .join(fprof.as("z"), col("f.sid") === col("z.sid"))
      .filter(col("f.fpos") < col("z.maxpos"))
      .select(col("f.sid").as("sid"), col("a"), col("b"), col("z.et").as("c"))
    val freq3 = triplePresent
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .crossJoin(minsup).filter(col("support") >= col("minsup"))
    freq1.select(lit(1L).as("length"), col("et").as("pattern"), col("support"))
      .unionAll(freq2.select(lit(2L).as("length"),
        concat_ws(">", col("a"), col("b")).as("pattern"), col("support")))
      .unionAll(freq3.select(lit(3L).as("length"),
        concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
        col("support")))
      .orderBy(col("length"), col("support").desc, col("pattern"))
  }
}
