package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, each designed as
  * a declarative Spark plan that survives a 100 TB corpus:
  *
  *  - exact: one hash-partitioned aggregation (map-side partial agg).
  *  - MinHash+LSH: shingle → signature → band → bucket-join. Candidate
  *    generation is an equi-join on band keys, so the shuffle moves only
  *    (band, id, signature) tuples, never full documents; bucket skew is
  *    AQE-handled.
  *  - SimHash: 64-bit sketch + 16-bit pigeonhole blocks — candidates are
  *    an equi-join on block keys; guaranteed recall for Hamming ≤ 3.
  *  - n-gram Jaccard: the exact verifier applied to candidate pairs.
  *  - embedding cosine: near-dup by vector similarity over LSH-style or
  *    given candidate pairs.
  */
object Dedup {

  /** Exact dedup: keep the minimum-id row per duplicate group.
    * `keyExpr` is the grouping identity (e.g. the raw text, or a
    * normalized/hashed form at scale — xxhash64(text) keeps the shuffle
    * narrow).
    */
  def exactGroups(df: DataFrame, keyExpr: Column, idCol: String): DataFrame = {
    HelperCols.requireAbsent("exactGroups", Seq("__key"), df)
    df.groupBy(keyExpr.as("__key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
  }

  /** Exact dedup returning the surviving rows (min id wins per group). */
  def exactDedup(df: DataFrame, keyExpr: Column, idCol: String): DataFrame = {
    HelperCols.requireAbsent("exactDedup", Seq("__rn"), df)
    val w = Window.partitionBy(keyExpr).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Persist `df` unless an identical plan is already cached (e.g. the
    * caller's own sketch); true when this call cached it and owns the
    * release.
    */
  private def persistOnce(df: DataFrame): Boolean = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    owned
  }

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * @return (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated
    *         across bands, filtered to est_jaccard >= minJaccard.
    */
  /** The (id, sig) MinHash sketch of a corpus — the canonical ~0.5 KB/doc
    * materialization every LSH path here consumes; persist it (or store
    * it, [[graft.pipeline.SketchStore]]) and pass it to the pair
    * generators to hash each document exactly once.
    */
  def minhashSigs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerms: Int = 64): DataFrame =
    df.select(
      col(idCol).as("id"),
      minhashSignature(
        wordShingles(tokens(col(textCol)), shingleSize), numPerms).as("sig"))

  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerms: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val rowsPerBand = numPerms / bands
    // The signature is the expensive subtree (numPerms hashes over every
    // shingle). Persist the narrow (id, sig) sketch so the band explode
    // and the two re-attachments below read it instead of recomputing —
    // at corpus scale this sketch is ~0.5 KB/doc, the canonical thing to
    // materialize. A caller-provided sketch is used as-is (the caller
    // owns its lifecycle — persist it before fanning out).
    val sigs = precomputedSigs.getOrElse(
      minhashSigs(df, idCol, textCol, shingleSize, numPerms))
    val ownSigs = precomputedSigs.isEmpty && persistOnce(sigs)
    sigs.count() // materialize BEFORE the self-join: its two branches run
    // as independent stages and would otherwise race the lazy cache,
    // computing the expensive signature subtree twice
    val banded = sigs.select(col("id"),
      posexplode(lshBands(col("sig"), bands, rowsPerBand)).as(Seq("band_i", "band_h")))
    // candidate ids only through the band join + distinct (narrow shuffle);
    // signatures re-attached once per side afterwards
    val candidates = banded
      .join(banded.select(col("band_i"), col("band_h"), col("id").as("id_b")),
        Seq("band_i", "band_h"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
    val pairs = candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", minhashJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_jaccard")
    // materialize the (small) pair set, then release the sketch cache —
    // otherwise every invocation pins another signature dataset forever.
    // The returned frame stays cached; callers may unpersist it.
    persistOnce(pairs)
    pairs.count()
    if (ownSigs) sigs.unpersist(false)
    pairs
  }

  /** Incremental near-dup: MinHash+LSH candidates between a NEW batch
    * and an EXISTING corpus only — the NRT dedup hop ("is this
    * incoming doc a near-copy of anything already ingested?"). Unlike
    * [[minhashPairs]]'s self-join, the band join here is batch-side ×
    * corpus-side, so batch-internal pairs are never generated and the
    * work per cycle is O(batch), not O(corpus): the corpus side
    * contributes only its (id, band) keys, which in production are
    * computed once at ingest and stored (the signature is ~0.5 KB/doc;
    * re-sketching 100 TB per batch would dwarf the batch itself —
    * pass `corpusSigs` from storage to skip recomputation).
    *
    * @param corpusSigs optional precomputed (id, sig) sketch for the
    *                   corpus (e.g. persisted at ingest); when absent
    *                   the corpus is re-sketched from its text
    * @return (batch_id, corpus_id, est_jaccard) filtered to
    *         est_jaccard >= minJaccard
    */
  def minhashPairsAgainst(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerms: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5,
      corpusSigs: Option[DataFrame] = None,
      batchSigs: Option[DataFrame] = None): DataFrame = {
    val rowsPerBand = numPerms / bands
    // computed sketches persist for the same reason as minhashPairs (the
    // band explode and the signature re-attach are separate stages);
    // caller-provided ones are used as-is — the caller owns their
    // lifecycle
    val bSigs = batchSigs.getOrElse(
      minhashSigs(batch, idCol, textCol, shingleSize, numPerms))
    val ownB = batchSigs.isEmpty && persistOnce(bSigs)
    bSigs.count()
    val cSigs = corpusSigs.getOrElse(
      minhashSigs(corpus, idCol, textCol, shingleSize, numPerms))
    val ownC = corpusSigs.isEmpty && persistOnce(cSigs)
    cSigs.count()
    def banded(sigs: DataFrame): DataFrame = sigs.select(col("id"),
      posexplode(lshBands(col("sig"), bands, rowsPerBand)).as(Seq("band_i", "band_h")))
    val candidates = banded(bSigs)
      .select(col("band_i"), col("band_h"), col("id").as("batch_id"))
      .join(banded(cSigs)
        .select(col("band_i"), col("band_h"), col("id").as("corpus_id")),
        Seq("band_i", "band_h"))
      .select("batch_id", "corpus_id").distinct()
    val pairs = candidates
      .join(bSigs.select(col("id").as("batch_id"), col("sig").as("sig_a")),
        Seq("batch_id"))
      .join(cSigs.select(col("id").as("corpus_id"), col("sig").as("sig_b")),
        Seq("corpus_id"))
      .withColumn("est_jaccard", minhashJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= minJaccard)
      .select("batch_id", "corpus_id", "est_jaccard")
    persistOnce(pairs)
    pairs.count()
    if (ownB) bSigs.unpersist(false)
    if (ownC) cSigs.unpersist(false)
    pairs
  }

  /** Ingestion dedup gate: annotate a NEW batch with the duplicate
    * verdict that decides whether each row may enter the corpus — the
    * composed NRT hop (candidates via LSH between batch and corpus AND
    * within the batch, then EXACT n-gram Jaccard verification, then one
    * deterministic keep rule).
    *
    * Keep rule: a batch row is a duplicate iff some VERIFIED pair
    * (jaccard >= minJaccard) links it to a corpus row or to a
    * SMALLER-id batch row; `dup_of` is the minimum such partner id
    * (corpus and batch ids share one ordering — keep them disjoint).
    * The rule is greedy by id, so a near-dup chain (a~b~c) keeps only
    * its least id even when a and c are not themselves a pair —
    * matching the cluster-collapse convention of [[dedupByClusters]]
    * without needing iteration: followers point at ANY smaller member,
    * which is enough to exclude them.
    *
    * Scale shape: everything is the q68/q70 plan — sketches persist
    * once (the corpus side from `corpusSigs` storage, e.g. a
    * [[graft.pipeline.SketchStore]]), candidates come from band
    * equi-joins (batch×corpus and batch×batch), the exact verify joins
    * only candidate pairs, and the verdict is a left join back onto the
    * batch. O(batch) per cycle with a stored corpus sketch.
    *
    * @return the batch's (idCol, dup_of) — dup_of null for rows that
    *         may enter the corpus
    */
  def dedupGate(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerms: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5,
      corpusSigs: Option[DataFrame] = None): DataFrame = {
    val docs = batch.select(idCol, textCol)
      .unionByName(corpus.select(idCol, textCol))
    // ONE batch sketch feeds both candidate generators (each document is
    // hashed exactly once per cycle)
    val bSigs = minhashSigs(batch, idCol, textCol, shingleSize, numPerms)
    val ownB = persistOnce(bSigs)
    bSigs.count()
    // candidates: batch×corpus plus batch-internal — est filter stays
    // off (0.0); the EXACT verify below is the one decision point.
    // Keep handles on the RAW pair frames: the generators persist them
    // for the caller, and a per-cycle caller (the streaming gate) that
    // never releases them accretes storage blocks every batch.
    val vsCorpusRaw = minhashPairsAgainst(batch, corpus, idCol, textCol,
      shingleSize, numPerms, bands, minJaccard = 0.0, corpusSigs,
      batchSigs = Some(bSigs))
    val vsCorpus = vsCorpusRaw
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
    val inBatchRaw = minhashPairs(batch, idCol, textCol,
      shingleSize, numPerms, bands, minJaccard = 0.0,
      precomputedSigs = Some(bSigs))
    val inBatch = inBatchRaw
      // order the pair so id_a is the row being judged (the LARGER id:
      // only smaller partners can disqualify a row)
      .select(greatest(col("id_a"), col("id_b")).as("id_a"),
        least(col("id_a"), col("id_b")).as("id_b"))
    val verified = ngramJaccardVerify(
      vsCorpus.unionByName(inBatch).distinct(), docs, idCol, textCol,
      shingleSize, minJaccard)
    val verdict = verified.groupBy(col("id_a").as(idCol))
      .agg(min(col("id_b")).as("dup_of"))
    val out = batch.select(col(idCol)).join(verdict, Seq(idCol), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    vsCorpusRaw.unpersist(false)
    inBatchRaw.unpersist(false)
    if (ownB) bSigs.unpersist(false)
    out
  }

  /** SimHash near-dup pairs: exact Hamming distance over pigeonhole-block
    * candidates. COMPLETE at the requested radius — the block count is
    * chosen so blocks−1 ≥ maxHamming (pigeonhole: two hashes within the
    * radius must agree on at least one block), so every in-radius pair is
    * a candidate and the exact Hamming filter makes the output exactly
    * the in-radius pair set.
    *
    * Scale note: radius ≤ 3 uses 4×16-bit keys (the Manku-et-al
    * production configuration — 65k-value keys keep buckets sparse at
    * corpus scale). Radius ≤ 7 uses 8×8-bit keys and radius ≤ 15 uses
    * 16×4-bit keys: each step shrinks the key space 256×, so candidate
    * counts grow correspondingly — wider radii are for bounded corpora
    * (or as a verified stage after coarser blocking), not the 100 TB
    * path.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (64-bit sketch), got $maxHamming")
    val blocks = if (maxHamming <= 3) 4 else if (maxHamming <= 7) 8 else 16
    // persist the 8-byte-per-doc sketch: the simhash expression visits
    // every token × 64 bits and must not be recomputed per join side
    val hashed = df.select(col(idCol).as("id"),
      simhash64(tokens(col(textCol))).as("sim"))
    val ownHashed = persistOnce(hashed)
    hashed.count() // see minhashPairs: avoid the lazy-cache double compute
    val blocked = hashed.select(col("id"),
      posexplode(simhashBlocks(col("sim"), blocks)).as(Seq("blk_i", "blk_v")))
    val candidates = blocked
      .join(blocked.select(col("blk_i"), col("blk_v"), col("id").as("id_b")),
        Seq("blk_i", "blk_v"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
    val pairs = candidates
      .join(hashed.select(col("id").as("id_a"), col("sim").as("sim_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("sim").as("sim_b")), Seq("id_b"))
      .withColumn("hamming", hamming64(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    persistOnce(pairs)
    pairs.count()
    if (ownHashed) hashed.unpersist(false)
    pairs
  }

  /** Connected components over a near-dup pair graph — the
    * cluster-collapse step that turns pairwise candidates (from MinHash/
    * SimHash/embedding blocking) into dedup groups: every member of a
    * component shares `component` = the minimum id reachable from it.
    *
    * Iterative min-label propagation (the MapReduce-style alternative to
    * driver-side union-find, cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): each round every vertex adopts the minimum
    * label in its closed neighborhood, converging in O(component
    * diameter) rounds — near-dup clusters are shallow, so a handful.
    * Each round is hash-shuffles over the EDGE list only; nothing graph-
    * shaped ever sits on the driver, so a 100 TB corpus's pair graph
    * (edges ≪ corpus) distributes like any other join.
    *
    * @return (id, component) for every id appearing in `pairs`.
    */
  def connectedComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (not just persist) each round: an iterative plan
    // that feeds itself grows its lineage exponentially — by ~10 rounds
    // the mere EXPLAIN string OOMs the driver. Checkpointing truncates
    // the logical plan to the materialized blocks. (On a real cluster
    // with executor loss concerns, swap for reliable checkpoint().)
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIters) {
      val cur = labels.select("id", "comp")
      val compType = edges.schema("src").dataType
      val viaNeighbor = edges
        .join(cur.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .select(col("src").as("id"), col("comp"),
          lit(null).cast(compType).as("__old"))
      // the OLD label rides the same aggregation (labels has exactly one
      // row per id, so max(__old) recovers it) — the convergence count
      // then needs NO join back to the previous labels, and riding it as
      // an observed metric on the checkpoint job makes it free: ONE job
      // per iteration instead of two (the count formerly re-joined and
      // re-shuffled the full label set every round)
      val obs = org.apache.spark.sql.Observation(s"cc_it$it")
      val next = viaNeighbor
        .unionByName(cur.withColumn("__old", col("comp")))
        .groupBy("id").agg(min("comp").as("comp"), max("__old").as("__old"))
        .select(col("id"), col("comp"),
          (col("comp") =!= col("__old")).as("__chg"))
        .observe(obs, count(when(col("__chg"), 1)).as("changed"))
        .localCheckpoint(true)
      // the checkpoint above was EAGER, so the metric is normally already
      // set; the timeout fallback covers a listener that never fires for
      // this action shape — still join-free, counting materialized blocks
      changed = try scala.concurrent.Await
        .result(obs.future, scala.concurrent.duration.Duration(30, "seconds"))
        .getAs[Long]("changed")
      catch {
        case _: java.util.concurrent.TimeoutException =>
          next.filter(col("__chg")).count()
      }
      labels.unpersist(false)
      labels = next
      it += 1
    }
    edges.unpersist(false)
    // Returning unconverged labels would silently split components (a
    // 30-hop chain needs 30 rounds of min-label propagation). Rather
    // than failing, switch to the large-star/small-star alternation:
    // O(log n) rounds REGARDLESS of diameter — the high-diameter graphs
    // that exhaust label propagation are exactly its sweet spot. (Label
    // propagation stays the first choice because near-dup graphs are
    // normally shallow and its per-round cost is lower: one join+agg
    // versus the alternation's two.)
    if (changed > 0) {
      labels.unpersist(false)
      return connectedComponentsStar(pairs, idA, idB)
    }
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Connected components via the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * alg. 3): each round rewires edges toward neighborhood minima —
    * large-star hangs every vertex's LARGER neighbors onto its minimum,
    * small-star re-points the smaller ones — converging to a star
    * forest in O(log n) rounds independent of component diameter, where
    * min-label propagation needs O(diameter). The per-round work is
    * plain joins/aggregations over the (shrinking) edge list; nothing
    * graph-shaped touches the driver, so a 100 TB corpus's pair graph
    * distributes like any other join.
    *
    * Convergence is detected by an edge-set fingerprint (count + sum of
    * xxhash64) riding the round's checkpoint as an observed metric —
    * zero extra jobs — and CONFIRMED with one exact set-difference
    * before declaring victory, so a fingerprint collision can never
    * return a half-contracted forest.
    *
    * @return (id, component) for every id appearing in `pairs`, with
    *         component = the minimum id in the connected component.
    */
  def connectedComponentsStar(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val vertices = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // canonical big>small representation; self-loops carry no
    // connectivity (the vertex set keeps those ids alive)
    var edges = pairs.select(
        greatest(col(idA), col(idB)).as("src"),
        least(col(idA), col(idB)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("cnt"),
        expr("bit_xor(xxhash64(src, dst))").as("hs")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prevFp = fingerprint(edges)
    var it = 0
    var converged = prevFp._1 == 0L // edge-free graph: nothing to contract
    while (!converged && it < maxIters) {
      // ---- large-star: (v, m(u)) for every neighbor v > u, where
      // m(u) = min(closed neighborhood of u) over the SYMMETRIC graph
      val sym = edges.union(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val mL = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      val large = sym.join(mL, sym("src") === mL("u"))
        .filter(col("dst") > sym("src")) // v > u ≥ m: output stays canonical
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // ---- small-star on the canonical (big→small) edges: every
      // smaller neighbor v — and u itself — re-points at m = min Γ⁻(u)
      val mS = large.groupBy("src").agg(min("dst").as("m"))
      val obs = org.apache.spark.sql.Observation(s"cc_star_$it")
      val next = large.join(mS, "src")
        .select(col("dst").as("s2"), col("m").as("d2"))
        .union(mS.select(col("src").as("s2"), col("m").as("d2")))
        .filter(col("s2") =!= col("d2"))
        .distinct()
        .select(col("s2").as("src"), col("d2").as("dst"))
        .observe(obs, count(lit(1)).as("cnt"),
          expr("bit_xor(xxhash64(src, dst))").as("hs"))
        .localCheckpoint(true) // truncate iterative lineage (see above)
      val fp = try {
        val r = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(30, "seconds"))
        (r.getAs[Long]("cnt"),
          Option(r.getAs[java.lang.Long]("hs")).map(_.longValue).getOrElse(0L))
      } catch {
        case _: java.util.concurrent.TimeoutException => fingerprint(next)
      }
      // fingerprint match → exact confirmation (both sides checkpointed,
      // equal cardinality — one cheap anti-join on the final round only)
      if (fp == prevFp) converged = edges.except(next).isEmpty
      edges.unpersist(false)
      edges = next
      prevFp = fp
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds; " +
          "raise maxIters")
    // fixpoint = star forest: every non-root points at its component
    // min; roots and isolated vertices label themselves
    val labels = edges.groupBy("src").agg(min("dst").as("component"))
      .select(col("src").as("id"), col("component"))
    val out = vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint(true)
    vertices.unpersist(false)
    edges.unpersist(false)
    out
  }

  /** Final dedup step: keep one document per near-dup cluster — the
    * minimum id among the cluster's members PRESENT IN df (a cluster's
    * global representative may have been filtered out upstream; dropping
    * the whole cluster then would be silent data loss) — plus every
    * document in no cluster at all. The representative is derived from
    * an ids-only aggregation, so the corpus row payload shuffles at most
    * once; internal columns are prefixed to avoid colliding with caller
    * schemas.
    */
  def dedupByClusters(df: DataFrame, components: DataFrame, idCol: String): DataFrame = {
    HelperCols.requireAbsent("dedupByClusters", Seq("__cc_comp", "__cc_rep"), df)
    val labels = components.select(col("id").as(idCol), col("component").as("__cc_comp"))
    val rep = df.select(col(idCol)).join(labels, Seq(idCol))
      .groupBy("__cc_comp").agg(min(col(idCol)).as("__cc_rep"))
    df.join(labels, Seq(idCol), "left")
      .join(rep, Seq("__cc_comp"), "left")
      .filter(col("__cc_comp").isNull || col(idCol) === col("__cc_rep"))
      .drop("__cc_comp", "__cc_rep")
  }

  /** Exact n-gram Jaccard for given candidate pairs (the verification
    * stage after LSH blocking): `pairs` must carry id_a/id_b.
    */
  def ngramJaccardVerify(
      pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minJaccard: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("__id"),
      wordShingles(tokens(col(textCol)), shingleSize).as("__sh"))
    pairs
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT all-pairs n-gram Jaccard ≥ `minJaccard` — the inverted-index
    * plan, never a cross join: explode each doc's DISTINCT shingles,
    * self-join on the shingle (only co-occurring pairs ever
    * materialize), count per-pair intersections, and derive the union
    * from per-doc set sizes (|A∪B| = |A|+|B|−|A∩B|). Work is
    * Σ_s df(s)² over shingles — document frequency squared, the classic
    * exact similarity-join cost — instead of |docs|² full array
    * comparisons; a threshold ≥ 0.5 pair must share shingles, so
    * nothing is lost by skipping non-co-occurring pairs. Arithmetic is
    * bit-identical to [[ngramJaccardVerify]] (integer set sizes, one
    * exact double division). The truth side of the q25 LSH-completeness
    * verdict; for web-scale corpora combine with a df cap or prefix
    * filter on stop-shingles — df(s)² is the skew axis.
    */
  def allPairsJaccard(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, minJaccard: Double): DataFrame = {
    val exploded = docs.select(col(idCol).as("__id"),
      explode(array_distinct(
        wordShingles(tokens(col(textCol)), shingleSize))).as("__s"))
    val sizes = exploded.groupBy("__id").agg(count(lit(1)).as("__n"))
    exploded.select(col("__id").as("id_a"), col("__s"))
      .join(exploded.select(col("__id").as("id_b"), col("__s")), Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__inter"))
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("__nb")), Seq("id_b"))
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }
}
