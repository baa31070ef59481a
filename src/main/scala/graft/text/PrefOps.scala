package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PREFERENCE AGGREGATION — the reward-data QA operator an RLHF /
  * arena-style pipeline runs over pairwise comparisons: fit
  * Bradley–Terry strengths (Bradley & Terry 1952) to a duel table via
  * Hunter's MM iteration (Hunter 2004, "MM algorithms for generalized
  * Bradley-Terry models": p_i' = wins_i / Σ_j n_ij/(p_i + p_j)), and
  * report per-contestant games, wins and normalized strength.
  *
  * Duels here are synthesized from the corpus deterministically (the
  * harness has no human-annotation table): adjacent documents duel
  * (even doc vs doc+1), the contestant is the document's SOURCE, the
  * longer document (whitespace-token count) wins, ties to the left —
  * the "which source produces the meatier answer" readout. Real
  * pipelines swap in their annotation table; the algebra is the same.
  *
  * EXACT integer accounting (the repo's oracle-portability idiom):
  * strengths live in micro-units (1e6 = 1.0) and every MM step is
  * integer arithmetic — per-pair `(n_ij * 1e12) div (p_i + p_j)`,
  * summed, then `(wins_i * 1e12) div denom_i` — so both engines
  * truncate identically (non-negative operands) and the face carries
  * only BIGINTs. No double appears anywhere.
  *
  * 100 TB shape: the duel build is ONE fact-sized self-equi-join on
  * the adjacent key (scan-linear, shuffle on doc id); everything
  * after is sources²-sized (the pair matrix) — corpus-size-free, so
  * the MM iterations are broadcast-tiny joins unrolled `iters` times,
  * no checkpointing needed.
  */
object PrefOps {

  private val U = 1000000L            // micro-unit scale
  private val U2 = 1000000000000L     // U squared, the MM numerator scale

  /** The synthesized duel table: (sa, sb, winner) per adjacent-doc
    * pair with distinct sources.
    */
  private[graft] def sourceDuels(
      docs: DataFrame, idCol: String = "doc_id", keyCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val scored = docs.select(col(idCol).cast("long").as("id"),
      col(keyCol).as("src"),
      size(TextOps.tokens(col(textCol))).cast("long").as("ntok"))
    val a = scored.filter(col("id") % 2 === 0)
      .select(col("id").as("ida"), col("src").as("sa"), col("ntok").as("na"))
    val b = scored
      .select(col("id").as("idb"), col("src").as("sb"), col("ntok").as("nb"))
    a.join(b, col("idb") === col("ida") + 1)
      .filter(col("sa") =!= col("sb"))
      .select(col("sa"), col("sb"),
        when(col("na") >= col("nb"), col("sa")).otherwise(col("sb"))
          .as("winner"))
  }

  /** The duel CUT: ONE corpus-sized pass collapses the duels to a
    * (pair, winner) count table, materialized by a lineage cut —
    * every downstream frame (pair matrix, win counts, all MM rounds,
    * the upset report) derives from this sources²-sized table, so an
    * unrolled iteration plan can never re-run the fact scan (the lazy
    * form re-scanned the corpus once per plan reference — measurably
    * slower at 1x than 10x). [[bradleyTerryFrom]] and
    * [[upsetReportFrom]] both consume it, so a harness that runs both
    * builds the corpus-sized stage ONCE (the clusterMemo pattern) and
    * the fit/report rows time only their sources²-sized tails.
    */
  def duelCut(
      docs: DataFrame, idCol: String = "doc_id", keyCol: String = "source",
      textCol: String = "text"): DataFrame =
    graft.model.Lineage.cut(
      sourceDuels(docs, idCol, keyCol, textCol).groupBy(
          least(col("sa"), col("sb")).as("i"),
          greatest(col("sa"), col("sb")).as("j"), col("winner"))
        .agg(count(lit(1)).as("n")), reliable = false)

  /** The MM iteration run LOCALLY on the collected duel-count table —
    * the bounded-local path of [[mmCore]]. The table is (pair,
    * winner)-sized — sources², corpus-size-free — yet every unrolled
    * distributed round references the strength table twice, so the
    * plan (and the executed subtree count) grew EXPONENTIALLY in
    * `iters` (measured: a 4,389-line plan / 220 Exchanges for iters=3
    * at sf0.1). Locally the fit is a few thousand exact integer ops.
    * Same arithmetic (`Math.multiplyExact`/`addExact` mirror ANSI
    * BIGINT overflow behavior, `/` on non-negative longs mirrors
    * `div`), pinned identical by a forced-bound A/B spec.
    */
  private def mmCoreLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(String, String, String, Long)],
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val nij = scala.collection.mutable.HashMap.empty[(String, String), Long]
    rows.foreach { case (i, j, _, n) =>
      nij.updateWith((i, j))(o => Some(Math.addExact(o.getOrElse(0L), n))) }
    val opp = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long)]]
    nij.foreach { case ((i, j), n) =>
      opp.getOrElseUpdate(i,
        scala.collection.mutable.ArrayBuffer.empty) += ((j, n))
      opp.getOrElseUpdate(j,
        scala.collection.mutable.ArrayBuffer.empty) += ((i, n)) }
    val wins = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (_, _, w, n) =>
      wins.updateWith(w)(o => Some(Math.addExact(o.getOrElse(0L), n))) }
    val games = opp.map { case (s, os) =>
      s -> os.foldLeft(0L)((a, x) => Math.addExact(a, x._2)) }
    var p: scala.collection.Map[String, Long] = games.map { case (s, _) => s -> U }
    for (_ <- 1 to iters) {
      val denom = opp.map { case (s, os) =>
        val ps = p(s)
        s -> os.foldLeft(0L) { case (acc, (o, n)) =>
          Math.addExact(acc,
            Math.multiplyExact(n, U2) / math.max(Math.addExact(ps, p(o)), 1L)) }
      }
      p = denom.map { case (s, d) =>
        s -> Math.multiplyExact(wins.getOrElse(s, 0L), U2) / math.max(d, 1L) }
    }
    (spark.createDataset(games.toSeq).toDF("source", "n_games"),
      spark.createDataset(wins.toSeq).toDF("source", "n_wins"),
      spark.createDataset(p.toSeq).toDF("source", "p"))
  }

  /** The shared MM core over a prebuilt [[duelCut]] table:
    * (games, wins, p_final); p_final is the strength table after
    * `iters` rounds. HYBRID: duel tables that pass the
    * [[graft.model.BoundedLocal]] gate fit locally (the cut's counted
    * rows decide, with no job); larger ones keep the distributed
    * rounds.
    */
  private def mmCore(
      duelAgg: DataFrame, iters: Int): (DataFrame, DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val spark = duelAgg.sparkSession
    import spark.implicits._
    // the encoder up-casts i, j and winner to string
    graft.model.BoundedLocal.collectIfFits(duelAgg.as[(String, String, String, Long)]) match {
      case Some(rows) => return mmCoreLocal(spark, rows, iters)
      case None =>
    }
    val pairs = duelAgg.groupBy(col("i"), col("j"))
      .agg(sum(col("n")).cast("long").as("nij"))
    // both directions of every pair: the denominator sums over a
    // contestant's opponents
    val sym = pairs.select(col("i").as("s"), col("j").as("o"), col("nij"))
      .unionByName(pairs.select(col("j").as("s"), col("i").as("o"), col("nij")))
    val wins = duelAgg.groupBy(col("winner").as("source"))
      .agg(sum(col("n")).cast("long").as("n_wins"))
    val games = sym.groupBy(col("s").as("source"))
      .agg(sum(col("nij")).cast("long").as("n_games"))
    // every contestant appears in sym (it played at least one duel)
    var p = games.select(col("source"), lit(U).as("p"))
    for (_ <- 1 to iters) {
      val denom = sym
        .join(broadcast(p.select(col("source").as("s"), col("p").as("ps"))), "s")
        .join(broadcast(p.select(col("source").as("o"), col("p").as("po"))), "o")
        .select(col("s").as("source"),
          expr(s"(nij * CAST($U2 AS BIGINT)) div greatest(ps + po, CAST(1 AS BIGINT))")
            .as("term"))
        .groupBy(col("source")).agg(sum(col("term")).cast("long").as("denom"))
      p = denom
        .join(wins, Seq("source"), "left")
        .select(col("source"),
          expr(s"(coalesce(n_wins, CAST(0 AS BIGINT)) * CAST($U2 AS BIGINT)) " +
            "div greatest(denom, CAST(1 AS BIGINT))").as("p"))
    }
    (games, wins, p)
  }

  /** Bradley–Terry strengths over the synthesized duels. Returns
    * (source, n_games, n_wins, strength_micro, strength_ppm) — the
    * strength in micro-units after `iters` MM rounds and its share of
    * the total in ppm.
    */
  def bradleyTerry(
      docs: DataFrame, iters: Int = 3, idCol: String = "doc_id",
      keyCol: String = "source", textCol: String = "text"): DataFrame =
    bradleyTerryFrom(duelCut(docs, idCol, keyCol, textCol), iters)

  /** [[bradleyTerry]] from a prebuilt [[duelCut]] table — the
    * corpus-size-free tail alone.
    */
  def bradleyTerryFrom(duelAgg: DataFrame, iters: Int = 3): DataFrame = {
    val (games, wins, p) = mmCore(duelAgg, iters)
    val tot = p.agg(sum(col("p")).cast("long").as("t"))
    games
      .join(wins, Seq("source"), "left")
      .join(p, Seq("source"))
      .crossJoin(broadcast(tot)) // 1-row aggregate, the accepted shape
      .select(col("source"), col("n_games"),
        coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        col("p").as("strength_micro"),
        expr("(p * CAST(1000000 AS BIGINT)) div greatest(t, CAST(1 AS BIGINT))")
          .as("strength_ppm"))
  }

  /** UPSET report — the annotator-noise readout next to the fit: per
    * unordered source pair, how often the model-favored side LOST.
    * A pair whose upset share sits near 500000 ppm carries no signal
    * (coin-flip annotations); one near zero is redundant to the
    * strengths. fav is the higher-strength side, ties to the
    * lexicographically smaller (= `i`, since i < j by construction).
    */
  def upsetReport(
      docs: DataFrame, iters: Int = 3, idCol: String = "doc_id",
      keyCol: String = "source", textCol: String = "text"): DataFrame =
    upsetReportFrom(duelCut(docs, idCol, keyCol, textCol), iters)

  /** [[upsetReport]] from a prebuilt [[duelCut]] table — the
    * pair-matrix-sized tail alone.
    */
  def upsetReportFrom(duelAgg: DataFrame, iters: Int = 3): DataFrame = {
    val (_, _, p) = mmCore(duelAgg, iters)
    val winpair = duelAgg.groupBy(col("i"), col("j"))
      .agg(
        sum(when(col("winner") === col("i"), col("n")).otherwise(0L))
          .cast("long").as("wins_i"),
        sum(when(col("winner") === col("j"), col("n")).otherwise(0L))
          .cast("long").as("wins_j"),
        sum(col("n")).cast("long").as("nij"))
    winpair
      .join(broadcast(p.select(col("source").as("i"), col("p").as("pi"))), "i")
      .join(broadcast(p.select(col("source").as("j"), col("p").as("pj"))), "j")
      .select(col("i"), col("j"), col("nij"), col("wins_i"), col("wins_j"),
        when(col("pj") > col("pi"), col("j")).otherwise(col("i")).as("fav"),
        expr("(CASE WHEN pj > pi THEN wins_i ELSE wins_j END) " +
          "* CAST(1000000 AS BIGINT) div greatest(nij, CAST(1 AS BIGINT))")
          .as("upset_ppm"))
  }

  /** Multi-offset duel synthesis for the transitivity audit: every
    * document duels each of doc+off for off in `offsets` (same
    * source-keyed, longer-wins rule). The adjacent-only table pairs
    * source k only with source k±1 under a cyclic source assignment —
    * a BIPARTITE comparison design with no triangles at all, which is
    * common in real annotation batches too; auditing transitivity
    * needs a design whose comparison graph closes triangles, so this
    * is the audit's own tournament (built fresh, billed in its row).
    */
  private[graft] def sourceDuelsAt(
      docs: DataFrame, offsets: Seq[Int], idCol: String = "doc_id",
      keyCol: String = "source", textCol: String = "text"): DataFrame = {
    require(offsets.nonEmpty && offsets.forall(_ >= 1), s"bad offsets: $offsets")
    val scored = docs.select(col(idCol).cast("long").as("id"),
      col(keyCol).as("src"),
      size(TextOps.tokens(col(textCol))).cast("long").as("ntok"))
    val a = scored.select(col("id").as("ida"), col("src").as("sa"),
        col("ntok").as("na"),
        explode(array(offsets.map(o => lit(o.toLong)): _*)).as("off"))
      .select(col("ida"), col("sa"), col("na"),
        (col("ida") + col("off")).as("idb"))
    val b = scored
      .select(col("id").as("idb"), col("src").as("sb"), col("ntok").as("nb"))
    a.join(b, "idb")
      .filter(col("sa") =!= col("sb"))
      .select(col("sa"), col("sb"),
        when(col("na") >= col("nb"), col("sa")).otherwise(col("sb"))
          .as("winner"))
  }

  /** [[duelCut]] over the multi-offset tournament. */
  def duelCutMulti(
      docs: DataFrame, offsets: Seq[Int], idCol: String = "doc_id",
      keyCol: String = "source", textCol: String = "text"): DataFrame =
    graft.model.Lineage.cut(
      sourceDuelsAt(docs, offsets, idCol, keyCol, textCol).groupBy(
          least(col("sa"), col("sb")).as("i"),
          greatest(col("sa"), col("sb")).as("j"), col("winner"))
        .agg(count(lit(1)).as("n")), reliable = false)

  /** TRANSITIVITY AUDIT — circular triads (Kendall & Babington Smith
    * 1940) in the majority tournament: each source pair with a strict
    * majority winner gets a directed edge; of the triangles whose
    * three pairs are all decided, the cyclic ones (a beats b beats c
    * beats a) are the annotation set's intransitive evidence — the
    * mass no Bradley–Terry fit can explain, reported in exact integer
    * ppm of decided triangles. One row:
    * (n_contestants, n_decided_pairs, n_triangles, n_cycles,
    * cyclic_ppm). Runs over its own offsets-{1,2,3} tournament
    * ([[sourceDuelsAt]]) because the adjacent-only design is
    * triangle-free by construction.
    *
    * 100 TB shape: one fact-sized duel build (explode ×|offsets|,
    * one equi-join), then everything is sources²- and sources³-sized
    * — the corpus never re-enters; the triangle join is an equi-join
    * chain on contestant keys, and the three 1-row aggregates
    * combine by broadcast (the accepted shape).
    */
  def prefCycles(
      docs: DataFrame, offsets: Seq[Int] = Seq(1, 2, 3),
      idCol: String = "doc_id", keyCol: String = "source",
      textCol: String = "text"): DataFrame =
    prefCyclesFrom {
      val dc = duelCutMulti(docs, offsets, idCol, keyCol, textCol)
      graft.model.Lineage.retire(dc) // internal to this call, dead after execution
      dc
    }

  /** [[prefCycles]] from a prebuilt [[duelCut]] table. */
  def prefCyclesFrom(duelAgg: DataFrame): DataFrame = {
    // per-pair direction: decided iff the majority is strict
    val dec = duelAgg.groupBy(col("i"), col("j"))
      .agg(
        sum(when(col("winner") === col("i"), col("n")).otherwise(0L))
          .cast("long").as("wi"),
        sum(when(col("winner") === col("j"), col("n")).otherwise(0L))
          .cast("long").as("wj"))
      .filter(col("wi") =!= col("wj"))
      .select(col("i"), col("j"), (col("wi") > col("wj")).as("iwins"))
    // triangles over a < b < c (i < j holds per pair by construction),
    // carrying each edge's orientation bit
    val tri = dec.select(col("i").as("a"), col("j").as("b"), col("iwins").as("w_ab"))
      .join(dec.select(col("i").as("b"), col("j").as("c"), col("iwins").as("w_bc")), "b")
      .join(dec.select(col("i").as("a"), col("j").as("c"), col("iwins").as("w_ac")),
        Seq("a", "c"))
    // cyclic iff the two chain edges agree and the closing edge
    // disagrees: (a→b→c→a) or (a→c→b→a)
    val triAgg = tri.agg(
      count(lit(1)).cast("long").as("n_triangles"),
      coalesce(sum(when(col("w_ab") === col("w_bc")
        && col("w_ac") =!= col("w_ab"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_cycles"))
    val contAgg = duelAgg.select(col("i").as("s"))
      .unionByName(duelAgg.select(col("j").as("s")))
      .agg(countDistinct(col("s")).cast("long").as("n_contestants"))
    val decAgg = dec.agg(count(lit(1)).cast("long").as("n_decided_pairs"))
    contAgg.crossJoin(broadcast(decAgg)).crossJoin(broadcast(triAgg))
      .select(col("n_contestants"), col("n_decided_pairs"),
        col("n_triangles"), col("n_cycles"),
        expr("n_cycles * CAST(1000000 AS BIGINT) " +
          "div greatest(n_triangles, CAST(1 AS BIGINT))").as("cyclic_ppm"))
  }

  /** Deterministic multi-rater ANNOTATION table for the agreement
    * face (the harness has no human ratings table — real pipelines
    * swap theirs in): `raters` annotators each assign every document
    * one of `cats` categories; the base label is `doc_id % cats`, and
    * a rater DISAGREES (rotating to `(base + 1 + rater) % cats`)
    * whenever `(doc_id * 31 + rater * 17) % 5 == 0` — ~20% planted
    * noise, id-keyed so both engines replay it exactly. Returns
    * (item_id, rater_id, category).
    */
  def syntheticRatings(docs: DataFrame, raters: Int = 5, cats: Int = 4): DataFrame =
    docs.select(col("doc_id").as("item_id"),
        explode(expr(s"sequence(0, ${raters - 1})")).as("rater_id"))
      .select(col("item_id"), col("rater_id").cast("long").as("rater_id"),
        when((col("item_id") * 31 + col("rater_id") * 17) % 5 === 0,
          (col("item_id") % cats + 1 + col("rater_id")) % cats)
          .otherwise(col("item_id") % cats)
          .cast("long").as("category"))

  /** FLEISS' KAPPA (Fleiss 1971, "Measuring nominal scale agreement
    * among many raters") — the inter-annotator-agreement readout every
    * human-labeled training-data pipeline gates on, next to the
    * Bradley–Terry fit and the circular-triad audit: is the label
    * noise random disagreement or systematic?
    *
    * κ = (P̄ − P̄e) / (1 − P̄e) with P̄ the mean per-item pairwise
    * agreement and P̄e the squared category-share chance agreement.
    * EXACT integer accounting until the last step (the assortativity
    * idiom): with n raters per item, N items,
    * A = Σ_i (Σ_k n_ik² − n)   (so P̄  = A / (N·n·(n−1))),
    * B = Σ_k (Σ_i n_ik)²       (so P̄e = B / (N·n)²),
    * κ = (A·D2 − B·D1) / (D1·(D2 − B)), D1 = N·n·(n−1), D2 = (N·n)² —
    * every term accumulated as BIGINT, the κ quotient's four products
    * (A·D2, B·D1, D1, D2−B) widened to decimal(38,0) — A·D2 ≈ 500·N³
    * at n=5 passes int64 at N ≈ 264k items, i.e. ANY production-scale
    * annotation table; decimal(38,0) holds it to N ≈ 5×10¹¹ — then ONE
    * double division rounded to 6 (the q_knn_transitivity wedge-sum
    * idiom; the oracle mirrors with HUGEINT). Requires a complete
    * design (every rater rates every item): an incomplete table yields
    * ZERO rows (the harness's row check goes red) rather than a
    * silently wrong κ.
    *
    * 100 TB shape: one (item, category)-keyed count, one item-keyed
    * fold, one category-keyed fold — three map-side-combinable
    * aggregations, no window, no join wider than the 1-row
    * aggregate combine.
    */
  def fleissKappa(ratings: DataFrame): DataFrame = {
    val r = ratings.toDF("item_id", "rater_id", "category")
    val nik = r.groupBy(col("item_id"), col("category"))
      .agg(count(lit(1)).as("c"))
    val perItem = nik.groupBy(col("item_id")).agg(
      sum(col("c") * col("c")).as("sq"), sum(col("c")).as("n"))
    val aAgg = perItem.agg(
      count(lit(1)).cast("long").as("n_items"),
      min(col("n")).cast("long").as("n_min"),
      max(col("n")).cast("long").as("n_max"),
      sum(col("sq") - col("n")).cast("long").as("a_num"))
    val bAgg = nik.groupBy(col("category"))
      .agg(sum(col("c")).as("ck"))
      .agg(sum(col("ck") * col("ck")).cast("long").as("b_num"),
        count(lit(1)).cast("long").as("n_categories"))
    val dec = "decimal(38,0)"
    aAgg.crossJoin(broadcast(bAgg))
      .filter(col("n_min") === col("n_max")) // complete design only
      .select(col("n_items"), col("n_min").as("n_raters"),
        col("n_categories"), col("a_num"), col("b_num"),
        round(
          (col("a_num").cast(dec) * col("n_items").cast(dec) * col("n_items").cast(dec)
            * col("n_min").cast(dec) * col("n_min").cast(dec)
            - col("b_num").cast(dec)
              * (col("n_items").cast(dec) * col("n_min").cast(dec) * (col("n_min") - 1).cast(dec)))
            .cast("double")
          / (col("n_items").cast(dec) * col("n_min").cast(dec) * (col("n_min") - 1).cast(dec)
            * (col("n_items").cast(dec) * col("n_items").cast(dec)
              * col("n_min").cast(dec) * col("n_min").cast(dec) - col("b_num").cast(dec)))
            .cast("double"),
          6).as("kappa"))
  }
}
