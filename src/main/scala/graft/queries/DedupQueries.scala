package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions._
import graft.synth.SynthUniverse.{DocChanges, docChanges}

/** Deduplication operators over `documents` — the core of a web-scale
  * training-data pipeline (exact, n-gram Jaccard, MinHash+LSH banding,
  * SimHash). Scale notes per operator:
  *
  *  - exact: one hash-shuffle on the normalized text key; at 100 TB
  *    pre-aggregate by a 64-bit content hash first so the shuffle
  *    carries (hash, id) not full text.
  *  - Jaccard all-pairs is O(n²) — kept ONLY as the correctness oracle
  *    shape at small n; the scale paths are q13 (LSH candidates, then
  *    exact verify — linear in candidates, probabilistic recall) and
  *    q142 (prefix-filtered AllPairs join — exact recall, candidates
  *    bounded by the prefix lemma).
  *  - MinHash: signatures shuffle once on doc_id (map-side partial
  *    min), bands self-join on (band, key) equi-key — broadcastable
  *    when the bucketed side is small, AQE-skew-safe otherwise.
  *  - SimHash: 60 conditional sums in one aggregation pass.
  */
object DedupQueries {
  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand = 4
  val ShingleN = 3

  /** documents + a disjoint duplicated copy (doc_id + 1e6) — gives the
    * exact-dedup operator real duplicates to collapse while staying
    * fully deterministic and oracle-expressible. */
  private def withDupes(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.union(d.select(col("doc_id") + lit(1000000L), col("text")))
  }

  /** (doc_id, shingle) distinct rows. Built scalar-per-row (explode the
    * index, concat ONE gram) — exploding a higher-order-function-built
    * array re-evaluates the whole array expression per output row
    * (measured 25x slower); this shape keeps the generator trivial. */
  private def shingleRowsOf(d: DataFrame): DataFrame = {
    val withTs = d
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= ShingleN)
    withTs
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), size(col("ts")) - ShingleN)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until ShingleN).map(j =>
          element_at(col("ts"), col("i") + j + 1)): _*).as("shingle"))
      .distinct()
  }

  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleRowsOf(Tables.documents(s, dir))

  /** (doc_id, shingles) — distinct word-3-gram sets per document. */
  private def shingleSetsOf(d: DataFrame): DataFrame =
    shingleSetsFromRows(shingleRowsOf(d))

  /** r6: rows-parameterized twins of the set/signature/band builders,
    * so a query needing several of them derives (and caches) the
    * tokenize+explode+distinct shingle stream ONCE (guide §1.2 — the
    * same shared-derivation move as q124's cached bands). */
  private def shingleSetsFromRows(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh"))

  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    shingleSetsOf(Tables.documents(s, dir))

  /** (doc_id, band, bkey) LSH band keys of a (doc_id, text) corpus:
    * one md5 per (doc, shingle), 16 overflow-free permutations folded
    * into 16 partial-min aggregates in a single groupBy(doc_id). */
  /** (doc_id, mh0..mh15) minhash signatures — the 16 permutation
    * minima folded in ONE groupBy over the shingle stream. */
  private def sigOf(d: DataFrame): DataFrame =
    sigFromRows(shingleRowsOf(d))

  private def sigFromRows(rows: DataFrame): DataFrame = {
    val exploded = rows.withColumn("h32", hash32(col("shingle")))
    val sigCols = (0 until NumHashes).map(i =>
      min(minhashPerm(i, col("h32"))).as(s"mh$i"))
    exploded.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  private def bandsOf(d: DataFrame): DataFrame =
    bandsFromRows(shingleRowsOf(d))

  private def bandsFromRows(rows: DataFrame): DataFrame = {
    val sig = sigFromRows(rows)
    val bandStructs = (0 until NumBands).map { b =>
      val key = md5(concat_ws(",",
        (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}").cast("string")): _*))
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * shingle-set sides — the linear-in-candidates scale path. */
  private def verifiedPairs(cand: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame =
    cand
      .join(shA.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shB.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(intersectSize(col("sh_a"), col("sh_b")) * 2 >=
        unionSize(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        jaccardPpm(col("sh_a"), col("sh_b")).as("jaccard_ppm"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q11_exact_dedup" -> ((s, dir) => {
      withDupes(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select(col("keeper_id"), col("n_copies"))
    }),
    "q12_ngram_jaccard_pairs" -> ((s, dir) => {
      val sh = shingleSets(s, dir)
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_a") < col("id_b"))
        .filter(intersectSize(col("sh_a"), col("sh_b")) * 2 >=
          unionSize(col("sh_a"), col("sh_b")))
        .select(col("id_a"), col("id_b"),
          jaccardPpm(col("sh_a"), col("sh_b")).as("jaccard_ppm"))
    }),
    "q13_minhash_lsh_pairs" -> ((s, dir) => lshPairs(s, dir)),
    "q263_cluster_purity" -> ((s, dir) => {
      // clustering-quality eval against PLANTED ground truth — the
      // dashboard gate a dedup deployment alarms on before shipping a
      // cluster table: corpus = q11's withDupes (every doc carries an
      // exact copy at id+1e6), so truth pairs are KNOWN by
      // construction (same text ⟺ same group); precision = TP /
      // intra-cluster pair mass, recall = TP / truth pairs, exact
      // ppm, single row. Shapes: truth pairs enumerate from the
      // bounded per-text id lists (double posexplode of tiny
      // arrays), intra-cluster mass folds Σ C(n,2) from cluster
      // sizes map-side, TP is one join of the truth pairs against
      // the label table — never an all-pairs comparison. Docs
      // outside the pair graph are singletons (contribute no intra
      // mass and can never be TP endpoints — the NULL label check).
      val d = withDupes(s, dir)
      // (r6 wave 2: sharing one cached shingle-ROW stream between the
      // set and band sides was tried and REGRESSED 3.5→3.9 s — same
      // materialization-vs-recompute verdict as q124)
      val sh = shingleSetsOf(d).cache()
      val pairs = verifiedPairs(bandCandidates(d), sh, sh)
      val labels = graft.operators.ConnectedComponents.alternatingStar(
        pairs.select(col("id_a").as("u"), col("id_b").as("v")))._1.cache()
      val groups = d.groupBy(col("text"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      val truthPairs = groups
        .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
        .select(col("id_a"), col("i"),
          posexplode(col("ids")).as(Seq("j", "id_b")))
        .filter(col("j") > col("i"))
        .select(col("id_a"), col("id_b"))
        .cache()
      val tp = truthPairs
        .join(labels.select(col("doc_id").as("id_a"), col("cluster_id").as("ca")),
          Seq("id_a"), "left")
        .join(labels.select(col("doc_id").as("id_b"), col("cluster_id").as("cb")),
          Seq("id_b"), "left")
        .filter(col("ca").isNotNull && col("ca") === col("cb"))
        .agg(count(lit(1)).as("tp"))
      val truthN = truthPairs.agg(count(lit(1)).as("truth_pairs"))
      val intra = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("intra_pairs"))
      truthN.crossJoin(broadcast(tp)).crossJoin(broadcast(intra))
        .select(col("truth_pairs"), col("intra_pairs"), col("tp"),
          expr("tp * 1000000 div intra_pairs").as("precision_ppm"),
          expr("tp * 1000000 div truth_pairs").as("recall_ppm"))
    }),
    "q245_containment_probe" -> ((s, dir) => {
      // asymmetric near-CONTAINMENT join (excerpt / quotation
      // detection): probe docs are synthetic excerpts — the middle
      // 60% token slice of every 5th document, the realistic quoted-
      // passage shape — and a probe A matches corpus doc B when
      // |sh(A) ∩ sh(B)| ≥ 0.8·|sh(A)|. This is the t<1 generalization
      // of q200's exact set containment and the ASYMMETRIC
      // counterpart of q142's Jaccard PPJoin: symmetric banding (q13)
      // structurally misses a short-inside-long pair (its Jaccard is
      // tiny however perfect the containment), which is why the op
      // exists. Prefix-filter lemma, containment form: if the match
      // holds, at most ⌊|A|/5⌋ of A's shingles fall outside B, so
      // A's first ⌊|A|/5⌋+1 shingles under ANY global order
      // (rarest-first (df, shingle) keeps candidate lists short)
      // must hit sh(B) — candidates are an equi-join of that short
      // prefix against the corpus shingle index, exact verify linear
      // in candidates, never probe×corpus. Each probe provably
      // matches its own source (a contiguous slice's 3-shingles are
      // a subset of the source's), so the result is non-vacuous at
      // every sf. Oracle: the brute-force quadratic containment
      // join — the shape the prefix filter exists to avoid.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val probe = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 5)
        .select(col("doc_id"), concat_ws(" ",
          slice(col("ts"), expr("size(ts) div 5 + 1"),
            expr("3 * size(ts) div 5"))).as("text"))
      val probeSh = shingleRowsOf(probe)
        .select(col("doc_id").as("probe_id"), col("shingle"))
      val corpusSh = shingleRows(s, dir)
      val df = corpusSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val sizes = probeSh.groupBy(col("probe_id")).agg(count(lit(1)).as("na"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("df"), col("shingle"))
      val prefix = probeSh.join(df, "shingle")
        .withColumn("rn", row_number().over(w))
        .join(sizes, "probe_id")
        .filter(col("rn") <= expr("na div 5 + 1"))
        .select(col("probe_id"), col("shingle"))
      val cand = prefix.join(corpusSh, "shingle")
        .select(col("probe_id"), col("doc_id")).distinct()
      val probeSets = probeSh.groupBy(col("probe_id"))
        .agg(collect_set(col("shingle")).as("sh_a"))
      cand
        .join(probeSets, "probe_id")
        .join(shingleSets(s, dir).select(col("doc_id"), col("sh").as("sh_b")),
          "doc_id")
        .filter(intersectSize(col("sh_a"), col("sh_b")) * 5 >=
          size(col("sh_a")) * 4)
        .withColumn("inter", intersectSize(col("sh_a"), col("sh_b")).cast("long"))
        .withColumn("na", size(col("sh_a")).cast("long"))
        // integer div, NOT Column./ (double division — the q142 bug)
        .select(col("probe_id"), col("doc_id"),
          expr("inter * 1000000 div na").as("cont_ppm"))
    }),
    "q231_lsh_recall_eval" -> ((s, dir) => {
      // banding-recall evaluation — the metric that TUNES q13's
      // (bands, rows) parameters: verified LSH pairs are a subset of
      // the exact-Jaccard pair set by construction (same ≥½
      // threshold), so the eval reduces to two counts and the missed
      // pairs are exactly the banding's false negatives. The
      // ground-truth side is q12's quadratic baseline, which is why
      // the eval runs on a DETERMINISTIC DOCUMENT SAMPLE (doc_id%3=0,
      // ~1/9 the quadratic cost) — recall is a corpus-level rate,
      // estimated soundly from a sample, and that sampling IS how a
      // 100 TB deployment runs this eval; both legs see the same
      // sample so the subset relationship (and the count algebra)
      // holds exactly.
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 === 0)
      val sh = shingleSetsOf(d).cache()
      val lsh = verifiedPairs(bandCandidates(d), sh, sh)
      // r6 (guide §3.2/§1.2): the ground-truth side now comes from the
      // EXACT-recall prefix-filtered AllPairs join instead of the
      // sampled quadratic product — completeness is the prefix lemma
      // (a theorem, proven pair-identical to the quadratic baseline by
      // SetSimJoinSpec), so n_true is unchanged while the n²/2
      // intersect evaluations drop to candidates only. thresholdBp =
      // 5000 ⇔ the same inclusive inter*2 >= uni condition.
      val truePairs = graft.operators.SetSimJoin
        .jaccardSelfJoin(sh, "doc_id", "sh", 5000)
      val nt = truePairs.agg(count(lit(1)).as("n_true"))
      val nl = lsh.agg(count(lit(1)).as("n_lsh"))
      nt.crossJoin(nl).select(col("n_true"), col("n_lsh"),
        (col("n_true") - col("n_lsh")).as("fn"),
        expr("n_lsh * 1000000 div n_true").as("recall_ppm"))
    }),
    "q234_minhash_estimate" -> ((s, dir) => {
      // signature-vs-exact Jaccard calibration — the OTHER banding
      // diagnostic (q231 measures which pairs surface; this measures
      // how well the 16-hash signature ESTIMATES similarity on the
      // pairs that did): per LSH candidate, est = matching-minima
      // share (matches·10⁶/16 = matches·62500) against the exact
      // shingle-set Jaccard. Candidates only — the signature join and
      // both set joins are equi-joins on the bounded candidate ids,
      // never all-pairs; the unbiasedness of per-permutation
      // agreement is the textbook MinHash property being audited.
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val sig = sigOf(d).cache()
      val sh = shingleSetsOf(d)
      val matches = (0 until NumHashes)
        .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      bandCandidates(d)
        .join(sig.as("a"), col("id_a") === col("a.doc_id"))
        .join(sig.as("b"), col("id_b") === col("b.doc_id"))
        .select(col("id_a"), col("id_b"), matches.as("matches"))
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("matches"),
          (col("matches") * 62500L).as("est_ppm"),
          jaccardPpm(col("sh_a"), col("sh_b")).as("exact_ppm"))
    }),
    "q142_setsim_join" -> ((s, dir) => {
      // exact prefix-filtered similarity join (AllPairs/PPJoin): the
      // DETERMINISTIC scale path beside q13's probabilistic banding —
      // rare-first prefixes bound the candidate set, the exact verify
      // touches candidates only, and the output must equal the q12
      // quadratic baseline pair-for-pair (same oracle, same ppm
      // arithmetic as TextFunctions.jaccardPpm).
      // r6: the operator reads its set table three times (prefix build
      // + both verify sides) and documents that callers should pass a
      // stored/persisted table — cache the shingle derivation so the
      // tokenize+shingle+collect_set pass runs once (guide §1.2)
      graft.operators.SetSimJoin
        .jaccardSelfJoin(shingleSets(s, dir).cache(), "doc_id", "sh", 5000)
        .select(col("id_a"), col("id_b"),
          round(lit(1000000.0) * col("inter") / col("uni"), 0)
            .cast("long").as("jaccard_ppm"))
    }),
    "q101_incremental_minhash" -> ((s, dir) => {
      // IVM of the verified near-dup pair set (q13) under a document
      // change batch — the dedup-side member of the q60/q80/q81/q95
      // IVM family. Updated docs (id%7=3, appended tokens) and deleted
      // docs (id%13=5) invalidate ONLY pairs touching them; every
      // other stored pair passes through untouched. New pairs come
      // from band-bucket probes of the updated docs against the final
      // corpus's bands — O(affected x bucket), never a full
      // re-pairing. The oracle recomputes every pair from the
      // post-change corpus.
      val d = incrementalPairDelta(s, dir)
      d.keep.unionByName(d.added)
    }),
    "q49_neardup_clusters" -> ((s, dir) => {
      // Connected components over the LSH near-dup pairs: min-label
      // propagation to FIXPOINT (each doc converges to the smallest
      // doc_id reachable through near-dup edges) — the canonical
      // "collapse duplicate clusters, keep one representative" step of
      // a training-data pipeline. Each iteration is one equi-join +
      // min-aggregate; at 100 TB labels/edges shuffle on doc_id and
      // iterations are O(component diameter), not O(n).
      val pairs = lshPairs(s, dir).select(col("id_a"), col("id_b"))
      val edges = pairs
        .union(pairs.select(col("id_b"), col("id_a")))
        .union(pairs.select(col("id_a"), col("id_a")))
        .union(pairs.select(col("id_b"), col("id_b")))
        .toDF("src", "dst").distinct()
        .cache()
      var lbl = edges.groupBy(col("src")).agg(min(col("dst")).as("lbl"))
        .select(col("src").as("doc_id"), col("lbl"))
      var converged = false
      var iter = 0
      val maxIter = 40
      while (!converged && iter < maxIter) {
        val step = edges
          .join(lbl, edges("dst") === lbl("doc_id"))
          .groupBy(col("src")).agg(min(col("lbl")).as("lbl"))
          .select(col("src").as("doc_id"), col("lbl"))
        // every 5th iteration localCheckpoint (materialize + TRUNCATE the
        // logical plan) so planning cost stays bounded; otherwise cache.
        val next = if (iter % 5 == 4) step.localCheckpoint() else step.cache()
        converged = next.join(lbl.withColumnRenamed("lbl", "old"), "doc_id")
          .filter(col("lbl") =!= col("old")).isEmpty
        lbl.unpersist() // previous iteration's cache is dead after the check
        lbl = next
        iter += 1
      }
      edges.unpersist()
      if (!converged)
        // silent truncation would return WRONG cluster ids for any
        // component with diameter > maxIter — fail loudly instead.
        throw new IllegalStateException(
          s"q49 label propagation did not converge within $maxIter iterations")
      lbl.select(col("doc_id"), col("lbl").as("cluster_id"))
    }),
    "q119_cc_alternating_star" -> ((s, dir) =>
      // Connected components via alternating LARGE-STAR / SMALL-STAR
      // over the same LSH near-dup edges as q49 — the 100 TB path for
      // HIGH-DIAMETER graphs (O(log n) rounds vs q49's O(diameter);
      // see [[graft.operators.ConnectedComponents]]). Output contract
      // and oracle are exactly q49's: one truth, two algorithms.
      graft.operators.ConnectedComponents.alternatingStar(
        lshPairs(s, dir).select(col("id_a").as("u"), col("id_b").as("v")))._1),
    "q124_incremental_clusters" -> ((s, dir) => {
      // IVM of the near-dup CLUSTER table (q49/q119's output) under the
      // standard change batch — the clustering axis of the IVM family
      // (q60/q80/q81/q95/q101/q110). Deletes can SPLIT a component and
      // inserts can MERGE two, so the exact minimal unit of recompute
      // is the COMPONENT: every cluster containing a doc the batch
      // touches (updated, deleted, or an endpoint of an
      // invalidated/new pair) is re-solved on the post-change pair set
      // restricted to its members ∪ the touched docs. That restricted
      // subgraph is CLOSED — an added pair has both endpoints touched,
      // a surviving pair stays inside its old component — so no
      // post-change edge can leave the affected set, and every
      // untouched cluster passes through byte-identical. Per-batch cost
      // O(touched components + their edges), never a corpus-wide
      // re-clustering. The oracle re-clusters the post-change corpus
      // from scratch.
      // Bench note: ~3/4 of this query's wall is rebuilding the TWO
      // stored stand-ins in-query (the cluster table = a full
      // alternating-star run, and the pair/band state) — production
      // reads both from tables and pays only the touched-component
      // star (cf. the q52/q70 oracle-scaffolding adjudication).
      // r6: ONE cached band/shingle derivation feeds the stored-pair
      // stand-in, the stored-cluster stand-in AND the pair-delta probe
      // (previously the delta path re-derived bands+shingles+verify
      // from scratch via a second lshPairs — guide §1.2).
      // (r6 wave 2: routing bands+sh through ONE cached shingle-ROW
      // stream was tried and REGRESSED 8.9→10.3 s — the row stream is
      // the corpus × shingle string explosion, and materializing it
      // costs more than the second tokenize pass it saves; the two
      // small caches below are the right granularity)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bands = bandsOf(docs).cache()
      val sh = shingleSetsOf(docs).cache()
      val basePairs = verifiedPairs(bandCandidatesFrom(bands), sh, sh).cache()
      // stored cluster table stand-in
      val labels0 = graft.operators.ConnectedComponents.alternatingStar(
        basePairs.select(col("id_a").as("u"), col("id_b").as("v")))._1.cache()
      incrementalClusters(pairDeltaFrom(docs, bands, sh, basePairs),
        basePairs, labels0)
    }),
    "q124b_stored_clusters" -> ((s, dir) => {
      // q124's PRODUCTION twin (VERDICT r4 item 4): the stored state —
      // band buckets, shingle sets, verified pairs, cluster table — is
      // read from parquet ([[graft.tables.StoredState]], built once
      // per sfDir) instead of rebuilt in-query, so the bench number
      // measures MAINTENANCE (touched-component recompute), not
      // scaffolding. Output contract and oracle are exactly q124's.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bands = graft.tables.StoredState.table(s, dir, "lsh_bands")(bandsOf(docs))
      val sh = graft.tables.StoredState.table(s, dir, "shingle_sets")(shingleSetsOf(docs))
      val pairs = graft.tables.StoredState.table(s, dir, "neardup_pairs")(lshPairs(s, dir))
      val labels = graft.tables.StoredState.table(s, dir, "neardup_clusters")(
        graft.operators.ConnectedComponents.alternatingStar(
          pairs.select(col("id_a").as("u"), col("id_b").as("v")))._1)
      incrementalClusters(pairDeltaFrom(docs, bands, sh, pairs), pairs, labels)
    }),
    "q127_editdist_verify" -> ((s, dir) => {
      // the same LSH band-bucket candidates verified by EDIT DISTANCE
      // instead of Jaccard — the stricter metric short-field dedup
      // (titles, URLs, snippets) uses. Levenshtein runs ONLY on the
      // candidate set (never all-pairs); for long documents a real
      // deployment swaps in a banded DP cutoff at the threshold, which
      // keeps verify O(T·len) per pair.
      val d = Tables.documents(s, dir)
      bandCandidates(d)
        .join(d.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        // |len(a)-len(b)| is a lower bound on edit distance: the O(1)
        // reject runs before the DP ever evaluates
        .filter(abs(length(col("ta")) - length(col("tb"))) <= EditDistMax)
        // THRESHOLDED levenshtein (r6, guide §1.2 per-task work): the
        // 3-arg form runs the banded DP — O(T·len) per pair instead of
        // O(len²) — returning -1 past the threshold; accepted pairs
        // carry the identical exact distance, and the -1 sentinel rows
        // are exactly the rows the old <= filter dropped.
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb"), EditDistMax.toInt)
            .cast("long").as("edit_dist"))
        .filter(col("edit_dist") >= 0L && col("edit_dist") <= EditDistMax)
    }),
    "q132_canonical_docs" -> ((s, dir) => {
      // the collapse step a dedup pipeline actually ships: per near-dup
      // cluster keep ONE representative (longest text, ties to the
      // smallest doc_id) — clustering composed with a
      // cluster-partitioned argmax window (never global). Singleton
      // docs (no near-dup) are their own cluster and survive as
      // themselves via the oracle's same rule.
      val labels = graft.operators.ConnectedComponents.alternatingStar(
        lshPairs(s, dir).select(col("id_a").as("u"), col("id_b").as("v")))._1
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("len").desc, col("doc_id").asc)
      labels
        .join(Tables.documents(s, dir)
          .select(col("doc_id"), length(col("text")).cast("long").as("len")), "doc_id")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_doc"), col("len"))
    }),
    "q147_pipeline_compose" -> ((s, dir) => {
      // the SHIPPED curation pipeline as ONE plan: near-dup collapse
      // (q132's cluster-canonical winners, singletons surviving as
      // themselves) → integer quality gate (q16's score) →
      // deterministic stratified split (q121's hash) → per-(split,
      // source) shard manifest with doc/token totals. Composition adds
      // NO new shuffle class: cluster-partitioned argmax window,
      // map-only gate + split, one map-side-combined final aggregate.
      import graft.text.TextFunctions.{hash60, qualityMilli, tokens}
      val labels = graft.operators.ConnectedComponents.alternatingStar(
        lshPairs(s, dir).select(col("id_a").as("u"), col("id_b").as("v")))._1
      val docs = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len"),
          size(col("ts")).cast("long").as("n_tokens"),
          qualityMilli(col("ts")).as("quality_milli"))
      val lab = docs.join(labels, Seq("doc_id"), "left")
        .withColumn("cl", coalesce(col("cluster_id"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cl")).orderBy(col("len").desc, col("doc_id").asc)
      val kept = lab.withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1 && col("quality_milli") >= 200)
      val h = pmod(hash60(concat(lit("split:"), col("doc_id"))), lit(100L))
      kept
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),
    "q14_simhash" -> ((s, dir) =>
      simhashOf(Tables.documents(s, dir))),
    "q110_incremental_simhash" -> ((s, dir) => {
      // IVM of the SimHash near-dup pair set under the standard change
      // batch (id%7=3 update, id%13=5 delete) — completes the IVM
      // family on the second dedup axis (pairs with q101's MinHash
      // side). Stored fingerprints + pairs are invalidated only where
      // touched; new pairs come from 15-bit band-bucket probes of the
      // updated docs' fingerprints against the final fingerprint set
      // (O(affected x bucket), never all-pairs), verified by hamming
      // distance. The oracle recomputes every pair from the
      // post-change corpus.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val baseFp = simhashOf(docs).cache()
      val basePairs = simhashPairs(baseFp, baseFp)
      val DocChanges(_, _, updatedLive, affected) = docChanges(docs)
      val keep = basePairs
        .join(affected.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti")
        .join(affected.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_anti")
      val updFp = simhashOf(updatedLive)
      val finalFp = baseFp.join(affected, Seq("doc_id"), "left_anti")
        .unionByName(updFp)
      keep.unionByName(simhashPairs(updFp, finalFp))
    }),
    "q152_crosscorpus_neardup" -> ((s, dir) => {
      // FUZZY decontamination — the near-dup complement of q61's exact
      // n-gram check: a paraphrased benchmark set (docs %9==4 with one
      // appended token, ids offset past the corpus) is banded and
      // probed against the corpus's LSH bands. Candidates are
      // CROSS-corpus band-bucket collisions only (the bench side is
      // the small probe — never corpus×corpus pairing), and the exact
      // Jaccard verify touches candidates alone. The oracle recomputes
      // from the unioned corpus and keeps the cross pairs.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + BenchIdOffset).as("doc_id"),
          concat(col("text"), lit(" eval")).as("text"))
      val cand = bandsOf(docs).as("x").join(bandsOf(bench).as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      verifiedPairs(cand, shingleSetsOf(docs), shingleSetsOf(bench))
    }),
    "q195_block_dedup" -> ((s, dir) => {
      // sorted-neighborhood (blocking) dedup — the THIRD candidate-
      // generation family beside probabilistic banding (q13) and exact
      // prefix filtering (q142): records sort under a cheap BLOCK key
      // and only window-adjacent pairs (w = 3) are ever compared. The
      // sort is PER BLOCK (window partitioned by the 16-char prefix —
      // never a global sort; at corpus scale block sizes are the
      // method's skew knob and a hot block would widen its key), the
      // edit-distance verify prices <= 2 neighbors per row on 40-char
      // prefixes. Pairs whose texts diverge after char 16 but agree on
      // the block are exactly what SNM exists to catch.
      // input = corpus ∪ planted near-dup variants (docs with id%11=7
      // re-enter at id+10n with chars 25-26 mutated): the corpus's own
      // duplicates are EXACT (dist 0), so without the variants the
      // window-adjacency + edit-verify path would never see a nonzero
      // accept — the variants land in the same block (prefix intact)
      // at dist 2.
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), lower(col("text")).as("key"))
      val nDocs = base.count()
      val variants = base.filter(col("doc_id") % 11 === 7)
        .select((col("doc_id") + 10 * nDocs).as("doc_id"),
          concat(substring(col("key"), 1, 24), lit("zq"),
            substring(col("key"), 27, 1000000)).as("key"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("blk")).orderBy(col("key"), col("doc_id"))
      val d = base.unionByName(variants)
        .withColumn("blk", substring(col("key"), 1, 16))
      val lagged = d
        .withColumn("p1_id", lag(col("doc_id"), 1).over(w))
        .withColumn("p1_key", lag(col("key"), 1).over(w))
        .withColumn("p2_id", lag(col("doc_id"), 2).over(w))
        .withColumn("p2_key", lag(col("key"), 2).over(w))
      val cand = lagged.filter(col("p1_id").isNotNull)
        .select(col("p1_id").as("pid"), col("p1_key").as("pkey"),
          col("doc_id"), col("key"))
        .unionByName(lagged.filter(col("p2_id").isNotNull)
          .select(col("p2_id").as("pid"), col("p2_key").as("pkey"),
            col("doc_id"), col("key")))
      cand
        // thresholded (banded-DP) levenshtein: -1 sentinel rows are the
        // rows the <= 6 filter dropped anyway (r6 optimization)
        .withColumn("edit_dist",
          levenshtein(substring(col("pkey"), 1, 40),
            substring(col("key"), 1, 40), 6).cast("long"))
        .filter(col("edit_dist") >= 0L && col("edit_dist") <= 6)
        .select(least(col("pid"), col("doc_id")).as("id_a"),
          greatest(col("pid"), col("doc_id")).as("id_b"),
          col("edit_dist"))
    }),
    "q200_containment_join" -> ((s, dir) => {
      // exact set-CONTAINMENT join (profile ⊆ document): which short
      // token profiles (docs with <= 12 distinct tokens — the "query
      // workload" side) are fully covered by which documents. The
      // FOURTH exact set-join shape beside Jaccard prefix filtering
      // (q142), banding (q13) and blocking (q195): candidates probe
      // ONLY the small side's globally-rarest token with a positional
      // prune (operators/SetSimJoin.containmentJoin — the t→1 prefix
      // lemma), the array_except verify touches candidates alone; the
      // oracle is the brute-force quadratic definition.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
      val small = toks.filter(size(col("tk")) <= 12)
      graft.operators.SetSimJoin.containmentJoin(small, toks, "doc_id", "tk")
        .select(col("id_small"), col("id_big"))
    }),
    "q207_split_overlap" -> ((s, dir) => {
      // split-document detection (a crawl/shard boundary cuts one page
      // into two records): doc B continues doc A when A's LAST 8
      // tokens equal B's FIRST 8. Planted continuations (doc_id%25=0 →
      // id+2000000 whose head is exactly that doc's tail — q22's
      // planting pattern); candidates equi-join on xxhash64 of the
      // boundary string, so only (id, 64-bit key) rows shuffle — never
      // the token streams — and the string verify runs on candidates
      // alone. The oracle joins the boundary STRINGS directly (the
      // definition, no hashing).
      val K = 8
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val planted = base.filter(col("doc_id") % 25 === 0 && size(col("tk")) >= K)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(slice(col("tk"), -K, K),
            split(lit("and then it continued onward"), " ")).as("tk"))
      val all = base.unionByName(planted).filter(size(col("tk")) >= K)
      val tails = all.select(col("doc_id").as("id_tail"),
          array_join(slice(col("tk"), -K, K), " ").as("tstr"))
        .withColumn("h", xxhash64(col("tstr")))
      val heads = all.select(col("doc_id").as("id_head"),
          array_join(slice(col("tk"), 1, K), " ").as("hstr"))
        .withColumn("h", xxhash64(col("hstr")))
      tails.join(heads, Seq("h"))
        .filter(col("id_tail") =!= col("id_head") && col("tstr") === col("hstr"))
        .select(col("id_tail"), col("id_head"))
    }),
  )

  /** q152's id offset for the planted benchmark corpus — larger than
    * any synthetic doc_id, so cross pairs are exactly id_a < offset <=
    * id_b. */
  val BenchIdOffset = 1000000000L

  /** 60-bit SimHash fingerprints (doc_id, simhash) over distinct
    * tokens: one explode + one groupBy with 60 conditional sums (all
    * codegen; no per-bit row blowup) — the q14 body, parameterized by
    * corpus so the IVM variant can fingerprint a change batch. */
  private def simhashOf(d: DataFrame): DataFrame = {
    val th = d
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", hash60(col("tok")))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, 1L).otherwise(-1L)).as(s"s$b"))
    val agg = th.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until 60).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs between a probe fingerprint set and a
    * corpus fingerprint set: 4x15-bit band equi-join prefilter (two
    * docs within hamming 3 of each other share a band by pigeonhole;
    * wider radii trade recall exactly like MinHash banding), hamming
    * verify <= [[SimhashMaxHamming]] on the candidates only. */
  val SimhashMaxHamming = 8
  private def simhashBandsOf(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          (shiftright(col("simhash"), 15 * b) % 32768).as("bkey"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  private def simhashPairs(probeFp: DataFrame, corpusFp: DataFrame): DataFrame = {
    val pb = simhashBandsOf(probeFp)
    val cb = simhashBandsOf(corpusFp)
    val cand = pb.as("x").join(cb.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
      .distinct()
    cand
      .join(corpusFp.select(col("doc_id").as("id_a"), col("simhash").as("fa")), "id_a")
      .join(corpusFp.select(col("doc_id").as("id_b"), col("simhash").as("fb")), "id_b")
      .withColumn("hamming",
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** LSH band-bucket candidate pairs (id_a < id_b), shared by the
    * Jaccard verify (q13/q49) and the edit-distance verify (q127). */
  private def bandCandidatesFrom(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

  private def bandCandidates(d: DataFrame): DataFrame =
    bandCandidatesFrom(bandsOf(d))

  /** q13 body (LSH candidates → exact verify), shared with q49. */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
      val d = Tables.documents(s, dir)
      // exact verify on the candidate set only (the scale path)
      val sh = shingleSetsOf(d)
      verifiedPairs(bandCandidates(d), sh, sh)
  }

  /** The 16 permutation expressions, generated from the SAME constants
    * the Spark side uses (TextFunctions.minhashA/B). */
  private val minhashExprs: String = (0 until NumHashes).map(i =>
    s"list_min([(h * ${minhashA(i)} + ${minhashB(i)}) % $MinhashP for h in h32s])")
    .mkString(", ")

  /** Shared DuckDB CTE chain: shingles -> minhash signatures -> LSH
    * bands -> verified near-dup `pairs(id_a, id_b, jaccard_ppm)`. */
  private def lshCtesFrom(src: String): String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM SRC
      |), sh AS (
      |  SELECT doc_id, list_distinct(
      |    [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS sh
      |  FROM toks
      |), hs AS (
      |  SELECT doc_id, sh,
      |    [CAST('0x' || substr(md5(s),1,15) AS BIGINT) & 4294967295 for s in sh] AS h32s
      |  FROM sh
      |), sig AS (
      |  SELECT doc_id, sh, list_value(MINHASH_EXPRS) AS mh
      |  FROM hs
      |), bands AS (
      |  SELECT doc_id, b,
      |    md5(CAST(mh[4*b+1] AS VARCHAR) || ',' || CAST(mh[4*b+2] AS VARCHAR) || ',' ||
      |        CAST(mh[4*b+3] AS VARCHAR) || ',' || CAST(mh[4*b+4] AS VARCHAR)) AS bkey
      |  FROM sig, range(0,4) t(b)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |), pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(ROUND(1000000.0 * len(list_intersect(x.sh, y.sh))
      |         / len(list_distinct(x.sh || y.sh)), 0) AS BIGINT) AS jaccard_ppm
      |  FROM cand JOIN sh x ON cand.id_a = x.doc_id JOIN sh y ON cand.id_b = y.doc_id
      |  WHERE len(list_intersect(x.sh, y.sh)) * 2 >= len(list_distinct(x.sh || y.sh))
      |)""".stripMargin.replace("MINHASH_EXPRS", minhashExprs).replace("SRC", src)

  private val lshCtes: String = lshCtesFrom("documents")

  /** q127's edit-distance verify threshold (~half the median document
    * length — keeps genuinely-similar candidates, drops bucket-collision
    * noise). */
  val EditDistMax = 150L

  /** The standard change batch's effect on the verified pair set
    * (shared by q101 and q124): `keep` = stored pairs untouched by the
    * batch, `added` = band-probe-verified new pairs of the updated
    * docs, `affected` = updated + deleted doc ids. */
  private case class PairDelta(keep: DataFrame, added: DataFrame,
    affected: DataFrame)

  private def incrementalPairDelta(s: SparkSession, dir: String): PairDelta = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // stored state stand-ins (at scale: the bands/shingles/pairs
    // tables); caches scoped to this evaluation. The `_stored` bench
    // twins route through pairDeltaFrom with StoredState parquet
    // instead — same maintenance math, production read path.
    // r6: the stored-pair stand-in derives from the SAME cached
    // bands/shingles (lshPairs would re-derive both from scratch —
    // a full second band+shingle pass the guide's §1.2 "don't compute
    // things twice" rule removes).
    val bands = bandsOf(docs).cache()
    val sh = shingleSetsOf(docs).cache()
    pairDeltaFrom(docs, bands, sh,
      verifiedPairs(bandCandidatesFrom(bands), sh, sh))
  }

  /** q124's maintenance math: re-solve exactly the touched components
    * on the post-change pair set (closed-subgraph argument in the q124
    * entry's comment); untouched clusters pass through byte-identical.
    * Shared by q124 (rebuilt state) and q124b (StoredState parquet). */
  private def incrementalClusters(d: PairDelta, basePairs: DataFrame,
      labels0: DataFrame): DataFrame = {
    // r6: every frame cached here is BATCH-sized (O(touched), never
    // O(corpus)) and referenced 2-4 times below — without the caches
    // the removed/touched/members anti-join chains recompute per
    // reference (guide §1.2 "don't compute things twice").
    val removed = basePairs
      .join(d.keep, Seq("id_a", "id_b"), "left_anti").cache()
    val added = d.added.cache()
    val touched = d.affected
      .union(removed.select(col("id_a").as("doc_id")))
      .union(removed.select(col("id_b").as("doc_id")))
      .union(added.select(col("id_a").as("doc_id")))
      .union(added.select(col("id_b").as("doc_id")))
      .distinct().cache()
    val affectedClusters = labels0.join(touched, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct().cache()
    // members ∪ touched: a touched doc with no stored pairs (first
    // near-dup appears in this batch) is absent from labels0
    val members = labels0.join(affectedClusters, Seq("cluster_id"), "left_semi")
      .select(col("doc_id")).union(touched).distinct().cache()
    val pairs1 = d.keep.unionByName(added)
    val induced = pairs1
      .join(members.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(members.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
    val recomputed = graft.operators.ConnectedComponents.alternatingStar(
      induced.select(col("id_a").as("u"), col("id_b").as("v")))._1
    labels0.join(affectedClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(recomputed)
  }

  /** The maintenance math of the pair-set IVM, independent of where
    * the stored state comes from (rebuilt in-query for the oracle
    * queries; parquet via [[graft.tables.StoredState]] for the
    * `_stored` bench twins). */
  private def pairDeltaFrom(docs: DataFrame, baseBands: DataFrame,
      baseSh: DataFrame, basePairs: DataFrame): PairDelta = {
    val batch = docChanges(docs)
    // r6: updatedLive/affected/updBands/updSh are BATCH-sized and each
    // feeds 2+ branches below — cache them so the batch's shingle and
    // band derivations run once, not once per consumer (guide §1.2)
    val updatedLive = batch.updatedLive.cache()
    val affected = batch.touched.cache()
    val keep = basePairs
      .join(affected.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti")
      .join(affected.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_anti")
    val updBands = bandsOf(updatedLive).cache()
    val finalBands = baseBands.join(affected, Seq("doc_id"), "left_anti")
      .unionByName(updBands)
    // the updated doc may be either pair side -> canonicalize a<b
    val cand = updBands.as("x").join(finalBands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
      .distinct()
    val updSh = shingleSetsOf(updatedLive).cache()
    val finalSh = baseSh.join(affected, Seq("doc_id"), "left_anti")
      .unionByName(updSh)
    PairDelta(keep, verifiedPairs(cand, finalSh, finalSh), affected)
  }

  /** Connected-components truth (recursive reachability + per-node
    * min): shared by q49 (label propagation), q119 (alternating star)
    * and — over the post-change corpus — q124 (incremental clusters).
    * Every plan must emit the identical clustering. */
  private def ccOracleFrom(ctes: String): String =
      s"""WITH RECURSIVE $ctes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |  UNION SELECT id_a, id_a FROM pairs
         |  UNION SELECT id_b, id_b FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin

  private val allPairsJaccardOracle =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(
      |    [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts)-1)]) AS sh
      |  FROM toks
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(ROUND(1000000.0 * len(list_intersect(a.sh, b.sh))
      |       / len(list_distinct(a.sh || b.sh)), 0) AS BIGINT) AS jaccard_ppm
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh)) * 2 >= len(list_distinct(a.sh || b.sh))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q11_exact_dedup" ->
      """WITH du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_id, COUNT(*) AS n_copies
        |FROM du GROUP BY text""".stripMargin,
    "q12_ngram_jaccard_pairs" -> allPairsJaccardOracle,
    // independent formulation: brute-force quadratic containment —
    // exactly the shape the Spark plan's prefix filter exists to avoid
    "q245_containment_probe" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
        |     for i in range(1, len(ts)-1)]) AS sh
        |  FROM toks WHERE len(ts) >= 3),
        |ptoks AS (
        |  SELECT doc_id AS probe_id,
        |    [ts[i] for i in range(len(ts)//5 + 1,
        |                          len(ts)//5 + 3*len(ts)//5 + 1)] AS ts
        |  FROM toks WHERE doc_id % 5 = 0 AND len(ts) >= 5),
        |psh AS (
        |  SELECT probe_id, list_distinct(
        |    [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
        |     for i in range(1, len(ts)-1)]) AS sh
        |  FROM ptoks WHERE len(ts) >= 3)
        |SELECT p.probe_id, d.doc_id,
        |  CAST(len(list_intersect(p.sh, d.sh))::BIGINT * 1000000
        |    // len(p.sh) AS BIGINT) AS cont_ppm
        |FROM psh p JOIN sh d
        |  ON len(list_intersect(p.sh, d.sh)) * 5 >= 4 * len(p.sh)""".stripMargin,
    "q231_lsh_recall_eval" ->
      s"""WITH smpl AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |${lshCtesFrom("smpl")},
         |truep AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 2
         |    >= len(list_distinct(a.sh || b.sh))),
         |tl AS (SELECT COUNT(*) AS n_lsh FROM pairs),
         |tr AS (SELECT COUNT(*) AS n_true FROM truep)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_lsh AS BIGINT) AS n_lsh,
         |  CAST(n_true - n_lsh AS BIGINT) AS fn,
         |  CAST(n_lsh * 1000000 // n_true AS BIGINT) AS recall_ppm
         |FROM tl, tr""".stripMargin,
    "q234_minhash_estimate" ->
      s"""WITH $lshCtes
         |SELECT c.id_a, c.id_b,
         |  CAST(len([i FOR i IN range(1, 17)
         |    IF x.mh[i] = y.mh[i]]) AS BIGINT) AS matches,
         |  CAST(len([i FOR i IN range(1, 17)
         |    IF x.mh[i] = y.mh[i]]) * 62500 AS BIGINT) AS est_ppm,
         |  CAST(ROUND(1000000.0 * len(list_intersect(x.sh, y.sh))
         |       / len(list_distinct(x.sh || y.sh)), 0) AS BIGINT) AS exact_ppm
         |FROM cand c JOIN sig x ON c.id_a = x.doc_id
         |JOIN sig y ON c.id_b = y.doc_id""".stripMargin,
    "q152_crosscorpus_neardup" ->
      s"""WITH final AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $BenchIdOffset, text || ' eval' FROM documents
         |  WHERE doc_id % 9 = 4),
         |${lshCtesFrom("final")}
         |SELECT id_a, id_b, jaccard_ppm FROM pairs
         |WHERE id_a < $BenchIdOffset AND id_b >= $BenchIdOffset""".stripMargin,
    "q147_pipeline_compose" ->
      s"""WITH RECURSIVE $lshCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |  UNION SELECT id_a, id_a FROM pairs
         |  UNION SELECT id_b, id_b FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), labels AS (
         |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
         |), d AS (
         |  SELECT doc_id, source, length(text) AS len,
         |    CAST(len(ts) AS BIGINT) AS n_tokens,
         |    CAST(ROUND(1000.0*len(list_distinct(ts))/len(ts)
         |      *LEAST(1.0, len(ts)/100.0),0) AS BIGINT) AS quality_milli
         |  FROM (SELECT *, string_split_regex(lower(text), '\\s+') AS ts
         |        FROM documents)
         |), lab AS (
         |  SELECT d.*, COALESCE(l.cluster_id, d.doc_id) AS cl
         |  FROM d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |), kept AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cl
         |      ORDER BY len DESC, doc_id ASC) AS rn FROM lab)
         |  WHERE rn = 1 AND quality_milli >= 200
         |), sp AS (
         |  SELECT *, CASE
         |    WHEN CAST('0x' || substr(md5('split:' || doc_id),1,15) AS BIGINT)
         |      % 100 < 80 THEN 'train'
         |    WHEN CAST('0x' || substr(md5('split:' || doc_id),1,15) AS BIGINT)
         |      % 100 < 90 THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM kept)
         |SELECT split, source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sp GROUP BY 1, 2""".stripMargin,
    // the exact prefix-filtered join must reproduce the quadratic
    // baseline's pair set — one truth, two plans (cf. q49/q119)
    "q142_setsim_join" -> allPairsJaccardOracle,
    "q13_minhash_lsh_pairs" ->
      s"""WITH $lshCtes
         |SELECT id_a, id_b, jaccard_ppm FROM pairs""".stripMargin,
    "q101_incremental_minhash" ->
      s"""WITH final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${lshCtesFrom("final")}
         |SELECT id_a, id_b, jaccard_ppm FROM pairs""".stripMargin,
    "q127_editdist_verify" ->
      s"""WITH $lshCtes
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist
         |FROM cand c
         |JOIN documents x ON c.id_a = x.doc_id
         |JOIN documents y ON c.id_b = y.doc_id
         |WHERE levenshtein(x.text, y.text) <= $EditDistMax""".stripMargin,
    "q132_canonical_docs" ->
      s"""WITH RECURSIVE $lshCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |  UNION SELECT id_a, id_a FROM pairs
         |  UNION SELECT id_b, id_b FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), labels AS (
         |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT cluster_id, doc_id AS keep_doc, len FROM (
         |  SELECT l.cluster_id, l.doc_id,
         |    CAST(length(d.text) AS BIGINT) AS len,
         |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |      ORDER BY length(d.text) DESC, l.doc_id ASC) AS rank
         |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
         |WHERE rank = 1""".stripMargin,
    "q263_cluster_purity" -> {
      val du =
        """du AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents)""".stripMargin
      s"""WITH RECURSIVE $du,
         |${lshCtesFrom("du")},
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |  UNION SELECT id_a, id_a FROM pairs
         |  UNION SELECT id_b, id_b FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), labels AS (
         |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
         |), g AS (SELECT text, list_sort(list(doc_id)) AS ids FROM du GROUP BY text),
         |tp0 AS (
         |  SELECT ids[CAST(i AS INT)] AS id_a, ids[CAST(j AS INT)] AS id_b
         |  FROM g, range(1, 100) t1(i), range(1, 100) t2(j)
         |  WHERE j > i AND j <= len(ids)),
         |tpc AS (SELECT COUNT(*) AS tp FROM tp0
         |  JOIN labels a ON a.doc_id = tp0.id_a
         |  JOIN labels b ON b.doc_id = tp0.id_b
         |  WHERE a.cluster_id = b.cluster_id),
         |tn AS (SELECT COUNT(*) AS truth_pairs FROM tp0),
         |ic AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS intra_pairs
         |  FROM (SELECT COUNT(*) AS n FROM labels GROUP BY cluster_id))
         |SELECT truth_pairs, intra_pairs, CAST(tp AS BIGINT) AS tp,
         |  CAST(tp * 1000000 // intra_pairs AS BIGINT) AS precision_ppm,
         |  CAST(tp * 1000000 // truth_pairs AS BIGINT) AS recall_ppm
         |FROM tn, ic, tpc""".stripMargin
    },
    "q49_neardup_clusters" -> ccOracleFrom(lshCtes),
    // the alternating-star plan must produce EXACTLY the label-
    // propagation plan's clustering — one truth, two algorithms
    "q119_cc_alternating_star" -> ccOracleFrom(lshCtes),
    "q124_incremental_clusters" -> ccOracleFrom(
      s"""final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${lshCtesFrom("final")}""".stripMargin),
    // the stored-state twin must emit the identical clustering
    "q124b_stored_clusters" -> ccOracleFrom(
      s"""final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${lshCtesFrom("final")}""".stripMargin),
    "q110_incremental_simhash" ->
      s"""WITH final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5
         |), th AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(t),1,15) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS t
         |        FROM final)
         |), bits AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM th, range(0,60) t(b) GROUP BY doc_id, b
         |), fp AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, b, (simhash >> (15*b)) % 32768 AS bkey
         |  FROM fp, range(0,4) t(b)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM cand JOIN fp x ON cand.id_a = x.doc_id
         |          JOIN fp y ON cand.id_b = y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimhashMaxHamming""".stripMargin,
    "q14_simhash" ->
      """WITH th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(t),1,15) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\s+'))) AS t
        |        FROM documents)
        |), bits AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0,60) t(b) GROUP BY doc_id, b
        |)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,
    "q195_block_dedup" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |b0 AS (SELECT doc_id, lower(text) AS key FROM documents),
        |d0 AS (SELECT doc_id, key FROM b0
        |  UNION ALL
        |  SELECT doc_id + 10*n.n AS doc_id,
        |    substr(key, 1, 24) || 'zq' || substr(key, 27) AS key
        |  FROM b0 CROSS JOIN n WHERE doc_id % 11 = 7),
        |d AS (SELECT doc_id, key, substr(key, 1, 16) AS blk FROM d0),
        |l AS (SELECT blk, doc_id, key,
        |    LAG(doc_id, 1) OVER w AS p1_id, LAG(key, 1) OVER w AS p1_key,
        |    LAG(doc_id, 2) OVER w AS p2_id, LAG(key, 2) OVER w AS p2_key
        |  FROM d WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
        |c AS (SELECT p1_id AS pid, p1_key AS pkey, doc_id, key FROM l
        |    WHERE p1_id IS NOT NULL
        |  UNION ALL
        |  SELECT p2_id, p2_key, doc_id, key FROM l WHERE p2_id IS NOT NULL),
        |v AS (SELECT pid, doc_id,
        |    CAST(levenshtein(substr(pkey, 1, 40), substr(key, 1, 40)) AS BIGINT)
        |      AS edit_dist
        |  FROM c)
        |SELECT LEAST(pid, doc_id) AS id_a, GREATEST(pid, doc_id) AS id_b,
        |  edit_dist
        |FROM v WHERE edit_dist <= 6""".stripMargin,
    "q200_containment_join" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
        |  FROM documents),
        |small AS (SELECT * FROM toks WHERE len(tk) <= 12)
        |SELECT a.doc_id AS id_small, b.doc_id AS id_big
        |FROM small a JOIN toks b ON a.doc_id != b.doc_id
        |WHERE len(list_filter(a.tk, t -> NOT list_contains(b.tk, t))) = 0""".stripMargin,
    "q207_split_overlap" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |planted AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    list_concat(list_slice(tk, len(tk)-7, len(tk)),
        |      string_split('and then it continued onward', ' ')) AS tk
        |  FROM base WHERE doc_id % 25 = 0 AND len(tk) >= 8),
        |a AS (SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)
        |      WHERE len(tk) >= 8),
        |t AS (SELECT doc_id AS id_tail,
        |    array_to_string(list_slice(tk, len(tk)-7, len(tk)), ' ') AS s FROM a),
        |h AS (SELECT doc_id AS id_head,
        |    array_to_string(list_slice(tk, 1, 8), ' ') AS s FROM a)
        |SELECT id_tail, id_head FROM t JOIN h USING (s)
        |WHERE id_tail <> id_head""".stripMargin,
  )
}
