package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{fingerprint, tokenCount}
import graft.functions.DedupFunctions.shingleRows

/** End-to-end training-corpus builder: one composition of the library's
  * corpus operators in production order, each stage exposed as a lazy
  * DataFrame so callers can branch, audit, or persist between stages.
  *
  *   1. token-length gate            (q43's length band)
  *   2. language allowlist           (optional)
  *   3. exact dedup                  (fingerprint, min-doc_id survives — q46)
  *   4. near-dedup keep/drop         (LSH min-neighbor suppression, O(n) — q77)
  *   5. decontamination              (drop docs sharing a k-gram with an
  *                                    eval set — q89's shape; optional)
  *   6. per-language quota sample    (deterministic salted rank — q108; optional)
  *   7. token-budget cap             ([[budget]] — distributed running
  *                                    prefix sum, q124's shape; optional)
  *   8. chunk + shard export         ([[chunk]] → `IoOps.writeShards` —
  *                                    q105/q122's shapes)
  *
  * This is the composed form of q87 widened to the full stage list; the
  * oracle-checked queries pin each stage's semantics, the
  * CorpusPipelineSpec pins the composition (monotone shrinkage, stage
  * order, census arithmetic).
  *
  * Scale notes: every stage is a narrow filter, hash-agg, or bucketed
  * semi/anti join — no stage materializes pairs, so the whole pipeline
  * stays O(n·bands). Stages share nothing but the flowing DataFrame:
  * Catalyst fuses the filters, and the three shuffles (fingerprint
  * group, band group, quota rank) are each on uniformly-distributed
  * keys. For repeated builds, persist `afterNearDedup` — the stages
  * above it are the expensive ones. */
object CorpusPipeline {

  /** All knobs default to the library's fixture/oracle parameters. */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minTokens: Long = 10L,
      maxTokens: Long = 1000L,
      langs: Seq[String] = Nil,
      k: Int = 3, nh: Int = 9, b: Int = 3, r: Int = 3,
      decontamK: Int = 5,
      evalDocs: Option[DataFrame] = None,
      quotaPerLang: Option[Int] = None)

  /** Lazily-staged pipeline; each field is the corpus AFTER that stage. */
  final class Staged private[CorpusPipeline] (
      val input: DataFrame,
      val afterGate: DataFrame,
      val afterLang: DataFrame,
      val afterExact: DataFrame,
      val afterNearDedup: DataFrame,
      val afterDecontam: DataFrame,
      val result: DataFrame) {

    /** Per-stage census (stage, n_docs), ordered by pipeline position.
      * One count job per stage — run it for audits, not per-batch. */
    def census(): Seq[(String, Long)] = Seq(
      "0_input" -> input.count(),
      "1_gate" -> afterGate.count(),
      "2_lang" -> afterLang.count(),
      "3_exact" -> afterExact.count(),
      "4_neardup" -> afterNearDedup.count(),
      "5_decontam" -> afterDecontam.count(),
      "6_quota" -> result.count())
  }

  /** `cut` is applied at the expensive stage boundaries (exact-dedup
    * window, LSH near-dedup, decontam, quota) — pass
    * `Cut(_)` ([[graft.core.Cut]]) when several actions will
    * consume the staged frames: a drop-reasons audit's six anti-joins
    * otherwise re-derive every nested stage pipeline per reference
    * (the r12 q224 finding; this is the object scaladoc's
    * "persist afterNearDedup first" advice as a seam). Identity by
    * default — single-pass consumers keep full lazy pipelining. */
  def build(docs: DataFrame, cfg: Config = Config(),
      cut: DataFrame => DataFrame = identity): Staged = {
    val id = col(cfg.idCol)
    val nTok = tokenCount(col(cfg.textCol))
    val afterGate = docs.where(col(cfg.textCol).isNotNull &&
      nTok.between(cfg.minTokens, cfg.maxTokens))
    val afterLang =
      if (cfg.langs.isEmpty) afterGate
      else afterGate.where(col(cfg.langCol).isin(cfg.langs: _*))
    // exact: min doc id per fingerprint survives (deterministic, q46/q77 rule)
    val afterExact = cut(afterLang
      .withColumn("__fp_min",
        min(id).over(Window.partitionBy(fingerprint(col(cfg.textCol)))))
      .where(id === col("__fp_min")).drop("__fp_min"))
    val afterNearDedup = cut(afterExact.join(
      NearDup.lshDropIds(afterExact, cfg.idCol, cfg.textCol,
        cfg.k, cfg.nh, cfg.b, cfg.r),
      Seq(cfg.idCol), "left_anti"))
    val afterDecontam = cfg.evalDocs match {
      case None => afterNearDedup
      case Some(eval) =>
        val evalGrams = shingleRows(
            eval.select(col(cfg.idCol), col(cfg.textCol)),
            cfg.idCol, cfg.textCol, cfg.decontamK)
          .select(col("s")).distinct()
        val contaminated = shingleRows(afterNearDedup
            .select(col(cfg.idCol), col(cfg.textCol)),
            cfg.idCol, cfg.textCol, cfg.decontamK)
          .join(evalGrams, Seq("s"), "left_semi")
          .select(col(cfg.idCol)).distinct()
        cut(afterNearDedup.join(contaminated, Seq(cfg.idCol), "left_anti"))
    }
    val result = cfg.quotaPerLang match {
      case None => afterDecontam
      case Some(q) =>
        val w = Window.partitionBy(col(cfg.langCol))
          .orderBy(md5(concat(lit("smp:"), id.cast("string")).cast("binary")), id)
        cut(afterDecontam.withColumn("__rk", row_number().over(w))
          .where(col("__rk") <= q).drop("__rk"))
    }
    new Staged(docs, afterGate, afterLang, afterExact, afterNearDedup,
      afterDecontam, result)
  }

  /** Dolma-style drop-reason ATTRIBUTES table — "why was my doc
    * dropped", the most-asked question of any curation pipeline: one
    * row per DROPPED document with the stage that removed it and the
    * reason tag (Dolma ships the same thing as its attributes files
    * beside the documents). Each stage already computes its keep set,
    * so this is six id anti-joins + a union — no new operator math; a
    * doc dropped at stage k never reaches stage k+1, so the rows are
    * stage-ordered and, together with `st.result`, partition the input
    * EXACTLY (one reason per dropped doc — CorpusPipelineSpec pins the
    * partition; q224 is the oracle-checked census). Null-text docs
    * fall in 1_gate with the token_length tag (a null text has no
    * token count to pass the band).
    *
    * Scale note: each anti-join re-derives its two stage frames from
    * lineage; for repeated audits persist `afterNearDedup` first (the
    * stages above it are the expensive ones — object scaladoc). */
  def dropReasons(st: Staged, cfg: Config = Config()): DataFrame = {
    val idc = cfg.idCol
    def drops(before: DataFrame, after: DataFrame, stage: String,
        reason: String): DataFrame =
      before.select(col(idc))
        .join(after.select(col(idc)), Seq(idc), "left_anti")
        .select(col(idc), lit(stage).as("stage"), lit(reason).as("reason"))
    drops(st.input, st.afterGate, "1_gate", "token_length")
      .unionByName(drops(st.afterGate, st.afterLang, "2_lang", "lang_blocked"))
      .unionByName(drops(st.afterLang, st.afterExact, "3_exact", "exact_dup"))
      .unionByName(drops(st.afterExact, st.afterNearDedup, "4_neardup", "near_dup"))
      .unionByName(drops(st.afterNearDedup, st.afterDecontam, "5_decontam", "eval_contaminated"))
      .unionByName(drops(st.afterDecontam, st.result, "6_quota", "quota_sampled"))
  }

  /** Stage 7 (optional, after [[build]]): token-budget cap — keep the
    * greedy prefix of the deterministic salted-hash shuffle order whose
    * INCLUSIVE running token total stays ≤ `maxTokens` (a uniform budget
    * cap; q124 pins the quality-RANKED sibling of the same shape). The
    * running total is the distributed two-pass prefix sum
    * ([[graft.functions.DistributedRank.withRunningTotal]]) — no
    * single-task window at any corpus size. */
  def budget(corpus: DataFrame, cfg: Config, maxTokens: Long): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1 (got $maxTokens)")
    graft.expressions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val id = col(cfg.idCol)
    val h = graft.functions.DedupFunctions.hash32(
      concat(lit("bud:"), id.cast("string")))
    graft.functions.DistributedRank
      .withRunningTotal(
        corpus.withColumn("__nt", tokenCount(col(cfg.textCol))),
        "__cum", col("__nt"), h, id)
      .where(col("__cum") <= maxTokens)
      .drop("__nt", "__cum")
  }

  /** Optional text-rewrite stage: span scrub (q134's operator) — every
    * disjoint `every`-token span survives only in the document that owns
    * its first occurrence (min id), so corpus-wide boilerplate collapses
    * to one copy while per-doc content stays. Run BETWEEN near-dedup and
    * chunking: dedup drops whole near-identical docs, the scrub removes
    * the sub-document repetition dedup can't see. Docs scrubbed empty
    * are dropped. Same shapes as q134: narrow span extraction, one hash
    * agg on the span hash, grouped ordered rebuild. */
  def spanScrub(corpus: DataFrame, cfg: Config = Config(),
      every: Int = 16): DataFrame = {
    require(every >= 1, s"every must be >= 1 (got $every)")
    val id = col(cfg.idCol)
    val spans = corpus
      .select(id, split(trim(col(cfg.textCol)), "\\s+").as("__w"))
      .select(id, col("__w"),
        posexplode(sequence(lit(0), greatest(size_(col("__w")) - 1, lit(0)),
          lit(every))))
      .toDF(cfg.idCol, "__w", "__i", "__st")
      .select(id, col("__st"),
        array_join(slice(col("__w"), col("__st") + 1, lit(every)), " ").as("__txt"))
      .withColumn("__h", md5(col("__txt").cast("binary")))
    val owner = spans.groupBy(col("__h")).agg(min(id).as("__owner"))
    val rebuilt = spans.join(owner, Seq("__h"))
      .where(col("__owner") === id)
      .groupBy(id)
      .agg(array_join(
        sort_array(collect_list(struct(col("__st"), col("__txt"))))
          .getField("__txt"), " ").as("__clean"))
    corpus.drop(cfg.textCol)
      .join(rebuilt, Seq(cfg.idCol)) // inner: fully-scrubbed docs drop out
      .withColumnRenamed("__clean", cfg.textCol)
  }

  /** Optional semantic-dedup stage ([[SemDeDup]], Abbas et al. 2023):
    * drop docs whose embedding has a strictly higher-quality
    * near-duplicate (cosine ≥ threshold) within its semantic cell.
    * Run AFTER lexical near-dedup — lexical dedup removes copies,
    * SemDeDup removes paraphrases the n-gram machinery can't see.
    * Cells come from [[SemDeDup.kmeansCells]] (the paper's recipe);
    * join volume is Σ|cell|², bounded by the `cells` granularity.
    * `corpus` must carry `qualityCol` (documents.n_chars by default);
    * docs without an embedding row pass through unexamined. */
  def semanticDedup(corpus: DataFrame, embs: DataFrame,
      cfg: Config = Config(), vecIdCol: String = "vec_id",
      vecCol: String = "embedding", cells: Int = 16,
      threshold: Double = 0.9, qualityCol: String = "n_chars"): DataFrame = {
    require(cells >= 1 && threshold > 0.0,
      s"need cells >= 1, threshold > 0 (got $cells, $threshold)")
    val cellAssign = SemDeDup.kmeansCells(embs, vecIdCol, vecCol, cells)
    val df = embs.select(col(vecIdCol), col(vecCol))
      .join(cellAssign, Seq(vecIdCol))
      .join(corpus.select(col(cfg.idCol).as(vecIdCol), col(qualityCol)),
        Seq(vecIdCol))
    corpus.join(
      SemDeDup.dropIds(df, vecIdCol, vecCol, "cell", qualityCol, threshold)
        .withColumnRenamed(vecIdCol, cfg.idCol),
      Seq(cfg.idCol), "left_anti")
  }

  /** Optional prototype-prune stage ([[PrototypePrune]], Sorscher et al.
    * NeurIPS'22): thin each semantic cell by dropping its most
    * prototypical `pruneNum/pruneDen` fraction — the abundant-data
    * complement of [[semanticDedup]] (that stage removes near-duplicate
    * PAIRS; this one thins dense regions even when no pair crosses the
    * threshold). Run AFTER semanticDedup so duplicates don't crowd the
    * centroid. Docs without an embedding row pass through unexamined. */
  def prototypePrune(corpus: DataFrame, embs: DataFrame,
      cfg: Config = Config(), vecIdCol: String = "vec_id",
      vecCol: String = "embedding", cells: Int = 16,
      pruneNum: Int = 1, pruneDen: Int = 4): DataFrame = {
    require(cells >= 1, s"need cells >= 1 (got $cells)")
    val cellAssign = SemDeDup.kmeansCells(embs, vecIdCol, vecCol, cells)
    val df = embs.select(col(vecIdCol), col(vecCol))
      .join(cellAssign, Seq(vecIdCol))
    corpus.join(
      PrototypePrune
        .dropIds(df, vecIdCol, vecCol, "cell", pruneNum, pruneDen)
        .withColumnRenamed(vecIdCol, cfg.idCol),
      Seq(cfg.idCol), "left_anti")
  }

  /** Optional semantic-DECONTAMINATION stage (q177's shape): drop docs
    * whose embedding sits within cosine ≥ `threshold` of ANY eval
    * embedding. Run next to the k-gram decontam stage: lexical decontam
    * catches verbatim benchmark leakage, this catches paraphrased
    * rewrites. Cells come from [[SemDeDup.kmeansCells]] fit on the
    * UNION of corpus and eval vectors (both sides must key into the
    * same cells). The eval side is bounded by construction — benchmarks
    * stay KB–MB at any corpus scale — so the cell join broadcasts it
    * and the corpus never shuffles; per-row work is in-cell codegen'd
    * dot products. Docs without an embedding row pass unexamined.
    * Eval vec ids must be DISJOINT from corpus vec ids (both key into
    * the shared cell assignment). */
  def semanticDecontam(corpus: DataFrame, embs: DataFrame,
      evalEmbs: DataFrame, cfg: Config = Config(),
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      cells: Int = 16, threshold: Double = 0.9): DataFrame = {
    require(cells >= 1 && threshold > 0.0,
      s"need cells >= 1, threshold > 0 (got $cells, $threshold)")
    import graft.functions.VectorFunctions.{dot, l2norm}
    graft.expressions.GraftFunctions.ensureRegistered(corpus.sparkSession)
    val all = embs.select(col(vecIdCol), col(vecCol))
      .unionByName(evalEmbs.select(col(vecIdCol), col(vecCol)))
    val cellAssign = SemDeDup.kmeansCells(all, vecIdCol, vecCol, cells)
    def keyed(df: DataFrame) = df
      .select(col(vecIdCol), col(vecCol).cast("array<float>").as("__v"))
      .join(cellAssign, Seq(vecIdCol))
      .withColumn("__nrm", l2norm(col("__v")))
      .where(col("__nrm") > 0)
    val ev = keyed(evalEmbs)
      .select(col("cell"), col("__v").as("__ev"), col("__nrm").as("__enrm"))
    val contaminated = keyed(embs)
      .join(broadcast(ev), Seq("cell"))
      .where(dot(col("__v"), col("__ev")) /
        (col("__nrm") * col("__enrm")) >= threshold)
      .select(col(vecIdCol).as(cfg.idCol))
      .distinct()
    corpus.join(contaminated, Seq(cfg.idCol), "left_anti")
  }

  /** Model-based quality-filter stage ([[HashedLinearModel]] — the
    * FineWeb-Edu/DCLM classifier pass): keep documents whose hashed
    * linear logit clears `minLogit16` (integer sixteenths; sigmoid is
    * monotone so this IS a probability threshold). One tokenizing scan
    * + a doc-keyed partial agg + a semi join back on the id — chain
    * after the lexical gates and before the semantic stages, which are
    * the expensive ones worth shielding. Production swaps the
    * md5-derived weights for a learned table; plan unchanged. */
  def qualityFilter(corpus: DataFrame, cfg: Config = Config(),
      dims: Int = 1024, minLogit16: Long = 0L): DataFrame = {
    val toks = corpus
      .where(col(cfg.textCol).isNotNull && col(cfg.idCol).isNotNull)
      .select(col(cfg.idCol),
        explode(split(trim(col(cfg.textCol)), "\\s+")).as("__tok"))
    val keep = HashedLinearModel
      .logits(toks, Seq(cfg.idCol), "__tok", dims)
      .where(col("logit16") >= minLogit16)
      .select(col(cfg.idCol))
    corpus.join(keep, Seq(cfg.idCol), "left_semi")
  }

  /** [[qualityFilter]] with TRAINED weights — the closed loop the
    * md5-stand-in version's scaladoc promises ("production swaps in
    * learned weights"): `weights` is a sparse (b, w) frame from
    * [[LogReg.train]] over the SAME dims/salt feature space, and the
    * keep threshold is on [[LogReg.score]]'s lattice logit (σ_h and
    * sigmoid are monotone, so this is a probability threshold). Same
    * plan as [[qualityFilter]] plus one broadcast of the
    * O(dims)-bounded model frame. */
  def qualityFilterTrained(corpus: DataFrame, weights: DataFrame,
      cfg: Config = Config(), dims: Int = 1024,
      minLogitW: Long = 0L, binary: Boolean = false): DataFrame = {
    val toks = corpus
      .where(col(cfg.textCol).isNotNull && col(cfg.idCol).isNotNull)
      .select(col(cfg.idCol),
        explode(split(trim(col(cfg.textCol)), "\\s+")).as("__tok"))
    val feats = LogReg.features(toks, cfg.idCol, "__tok", dims,
      binary = binary)
    val keep = LogReg.score(feats, weights, cfg.idCol)
      .where(col("logit_w") >= minLogitW)
      .select(col(cfg.idCol))
    corpus.join(keep, Seq(cfg.idCol), "left_semi")
  }

  /** Privacy stage: typed PII / identifier redaction
    * ([[PiiScrub.scrub]]) over the text column — run BEFORE any stage
    * that fingerprints or tokenizes, so downstream dedup keys and
    * quality signals see the redacted text a release would ship.
    * Pure codegen'd row expressions riding whatever scan reads the
    * column; zero shuffles; idempotent (PiiScrub scaladoc). q213 is
    * the census form of this rewrite. */
  def redactPii(corpus: DataFrame, cfg: Config = Config()): DataFrame =
    corpus.withColumn(cfg.textCol, PiiScrub.scrub(col(cfg.textCol)))

  /** Publish stage: the per-source [[Datacard]] of a (curated) corpus —
    * the datasheet a corpus release ships with. One tokenizing scan of
    * whatever frame it is given; run it on `Staged.result` after
    * [[build]] (or on any intermediate stage for before/after cards). */
  def datacard(corpus: DataFrame, cfg: Config = Config(),
      sourceCol: String = "source", charsCol: String = "n_chars"): DataFrame =
    Datacard.of(corpus, sourceCol, cfg.langCol, cfg.idCol, charsCol, cfg.textCol)

  /** Final export stage: [[graft.sources.IoOps.writeShards]] — the
    * deterministic fixed-size shard writer (q122 hash-proves the
    * assignment). Chain as `IoOps.writeShards(chunk(staged.result), ...)`
    * or shard the documents directly. */

  /** Final materialization stage: overlapping token-window chunks of the
    * surviving corpus (q105's layout — starts every `stride` tokens,
    * `size`-token windows). Embarrassingly parallel; one output row per
    * chunk with the source doc id carried for provenance. */
  def chunk(corpus: DataFrame, cfg: Config = Config(),
      size: Int = 32, stride: Int = 24): DataFrame = {
    require(size >= 1 && stride >= 1, s"size/stride must be >= 1 ($size/$stride)")
    corpus
      .select(col(cfg.idCol),
        split(trim(col(cfg.textCol)), "\\s+").as("__w"))
      .select(col(cfg.idCol), col("__w"),
        posexplode(sequence(lit(0), greatest(size_(col("__w")) - 1, lit(0)),
          lit(stride))))
      .toDF(cfg.idCol, "__w", "chunk_id", "__st")
      .select(col(cfg.idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(slice(col("__w"), col("__st") + 1, lit(size)), " ").as("chunk"))
  }

  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c)
}
