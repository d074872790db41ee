package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions._
import graft.synth.SynthUniverse
import graft.synth.SynthUniverse.{DocChanges, docChanges}

/** Text-analysis operators over the `documents` table — the
  * language-ID / quality-scoring / token-counting / fingerprinting
  * stages a large-scale training-data pipeline runs before dedup.
  * All scores are emitted in exact integer milli/ppm units so the
  * DuckDB oracle hashes bit-identically.
  */
object TextQueries {

  /** (lang, stopword profile). Deliberately tiny n-gram-free heuristic
    * profiles; argmax with (score DESC, lang ASC) tie-break. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "los", "y", "es", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "you3"),
  )

  private def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ",", ")")

  // PII patterns (q83), written in the Java∩RE2 subset: the SAME
  // string is compiled by Spark (java.util.regex) and DuckDB (RE2).
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val PiiIp = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Word n-grams of a token array as space-joined strings (shared by
    * decontamination q61 and repetition q78). */
  private def ngrams(ts: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(1), size(ts) - (n - 1)),
      i => array_join(slice(ts, i, lit(n)), " "))

  // quality scoring lives in TextFunctions.qualityMilli (one
  // definition for q16/q100/q146/q147), pulled in by the wildcard
  // import above

  /** q130's fixed retrieval query terms (gazetteer members, so every
    * sf has hits). */
  val Bm25Terms: Seq[String] = Seq("merge", "stream", "vector")

  /** q135's concordance term. */
  val KwicTerm = "vector"

  /** q115's sliding-window (W=3) unordered token pair counts — a
    * narrow double-explode + ONE map-side-combined shuffle on the
    * pair; shared by q115 and q168's collocation scoring. */
  private def cooccurrencePairs(s: SparkSession, dir: String): DataFrame =
    cooccurrencePairsOf(Tables.documents(s, dir))

  /** The same pair counting over an arbitrary (.., text) frame — lets
    * q171 count ONLY a change batch's documents (old and new text). */
  private def cooccurrencePairsOf(docs: DataFrame): DataFrame = {
    val W = 3
    docs
      .select(tokens(col("text")).as("ts"))
      .select(col("ts"), posexplode(col("ts")).as(Seq("p", "t1")))
      .select(col("ts"), col("p"), col("t1"),
        explode(sequence(lit(1), lit(W))).as("k"))
      .filter(col("p") + col("k") + 1 <= size(col("ts")))
      .select(col("t1"),
        element_at(col("ts"), (col("p") + col("k") + 1).cast("int")).as("t2"))
      .select(least(col("t1"), col("t2")).as("w1"),
        greatest(col("t1"), col("t2")).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pairs"))
  }

  /** q15's language predictor — score_l = count of profile-stopword
    * tokens (with multiplicity); winner = min over (−score, lang)
    * struct ordering. Codegen'd, no UDF, no shuffle beyond the scan.
    * ONE definition shared by q15 and the q278 agreement eval. */
  private def langPred(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.withColumn("ts", tokens(col("text")))
    val scored = langProfiles.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        expr(s"size(filter(ts, t -> t IN ${inList(words)}))").cast("long"))
    }
    val candidates = array(langProfiles.map { case (lang, _) =>
      struct((-col(s"score_$lang")).as("neg"), lit(lang).as("lang"))
    }: _*)
    scored.select(
      col("doc_id"),
      array_min(candidates).getField("lang").as("pred_lang"),
      greatest(langProfiles.map(p => col(s"score_${p._1}")): _*).as("best_score"))
  }

  /** MOSS-style winnowing fingerprint selection (Schleimer et al.,
    * SIGMOD'03 — public algorithm) over a (doc_id, text) frame: over
    * each document's 3-gram hash sequence, every w=4 consecutive-hash
    * window selects its MINIMAL hash, rightmost on ties. Guarantee:
    * any exact token run of >= w+k-1 = 6 tokens shared by two
    * documents shares a selected fingerprint, at ~2/(w+1) the density
    * of the full k-gram set — the index a plagiarism/near-dup
    * detector stores instead of every shingle. ONE posexplode + ONE
    * doc-keyed window (partitionBy doc_id, so never a global sort),
    * distinct selected (pos, fp) per doc. THE one definition shared
    * by q276 and its IVM face q281. */
  private def winnowOf(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 3; val W = 4
    val g = docsIn
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("m"),
        posexplode(transform(sequence(lit(1), size(col("ts")) - (K - 1)),
          i => array_join(slice(col("ts"), i, lit(K)), " ")))
          .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        (col("m") - (K - 1)).cast("long").as("ng"),
        hash60(col("gram")).as("fp"))
    val win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, W - 1)
    g.filter(col("ng") >= W)
      .withColumn("sel",
        min(struct(col("fp"), (-col("p")).as("np"))).over(win))
      .filter(col("p") <= col("ng") - (W - 1))
      .select(col("doc_id"), (-col("sel.np")).as("sel_pos"),
        col("sel.fp").as("sel_fp"))
      .distinct()
  }

  /** The winnowing oracle recipe over an arbitrary (doc_id, text)
    * corpus CTE — window-free: per-window min via a bounded 4-row
    * band self-join, rightmost tie via MAX(p) over the min's rows.
    * [[winnowCtes]] emits the CTE chain (ending in `sel`) so callers
    * can extend it; [[winnowSql]] is the complete selection query. */
  private def winnowSql(corpusSql: String): String =
    s"""WITH ${winnowCtes(corpusSql)}
       |SELECT DISTINCT doc_id, CAST(sel_pos AS BIGINT) AS sel_pos, sel_fp
       |FROM sel""".stripMargin

  private def winnowCtes(corpusSql: String): String =
    s"""corpus AS ($corpusSql),
       |toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM corpus
       |), g0 AS (
       |  SELECT doc_id, CAST(len(ts) - 2 AS BIGINT) AS ng,
       |    unnest([{'p': i,
       |      'fp': CAST('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]),1,15) AS BIGINT)}
       |      for i in range(1, len(ts) - 1)]) AS u
       |  FROM toks WHERE len(ts) >= 3
       |), g AS (
       |  SELECT doc_id, ng, CAST(u.p AS BIGINT) AS p, u.fp AS fp FROM g0
       |), wmin AS (
       |  SELECT a.doc_id, a.p AS w0, MIN(b.fp) AS sel_fp
       |  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.p BETWEEN a.p AND a.p + 3
       |  WHERE a.p <= a.ng - 3
       |  GROUP BY 1, 2
       |), sel AS (
       |  SELECT m.doc_id, m.w0, m.sel_fp, MAX(g.p) AS sel_pos
       |  FROM wmin m JOIN g ON g.doc_id = m.doc_id AND g.fp = m.sel_fp
       |    AND g.p BETWEEN m.w0 AND m.w0 + 3
       |  GROUP BY 1, 2, 3)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q276_winnowing" -> ((s, dir) => winnowOf(Tables.documents(s, dir))),
    "q281_incremental_winnowing" -> ((s, dir) => {
      // IVM #20, the fingerprint-INDEX axis: maintain q276's winnowed
      // fingerprint set under the standard change batch (id%7=3 text
      // update, id%13=5 delete). Winnowing is per-document LOCAL — no
      // cross-document state — so its maintenance is the cleanest in
      // the IVM family: delta work is EXACTLY the touched documents'
      // re-winnow (one narrow pass over the batch), every untouched
      // document's fingerprints pass through one anti-join unread.
      // That locality is why production plagiarism/near-dup indexes
      // (the thing q276 feeds) are maintained incrementally while
      // banded MinHash (q101) needs bucket re-probes. Full-recompute
      // oracle over the post-change corpus.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = winnowOf(docs)
      val DocChanges(_, _, updatedLive, touched) = docChanges(docs)
      base.join(touched, Seq("doc_id"), "left_anti")
        .unionByName(winnowOf(updatedLive))
    }),
    "q293_symspell_join" -> ((s, dir) => {
      // SymSpell/FastSS deletion-neighborhood join — the THIRD
      // edit-distance candidate generator beside banding (q13/q110)
      // and sorted-neighborhood blocking (q195): two keys within
      // Levenshtein 1 ALWAYS share a 1-deletion variant (delete the
      // edited position on whichever side carries it — substitutions
      // share the variant with BOTH sides' position deleted), so the
      // equi-join on the variant is provably complete at t=1 and the
      // exact levenshtein verify prices candidates only. Work is
      // Σ len(key) variant rows + bucket-bounded pairs — never
      // key × key (the oracle runs exactly that quadratic as the
      // independent formulation). Keys are the corpus's first tokens
      // with planted deterministic single-char deletions (%3=1) and
      // substitutions (%3=2) — the dirty-key matching scenario the
      // operator exists for.
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("element_at(split(lower(text), '\\\\s+'), 1)").as("b"))
      val keyed = base.select(
        when(length(col("b")) < 4 || col("doc_id") % 3 === 0, col("b"))
          .when(col("doc_id") % 3 === 1,
            expr("substring(b, 1, CAST(doc_id % length(b) AS INT)) || " +
              "substring(b, CAST(doc_id % length(b) AS INT) + 2)"))
          .otherwise(
            expr("substring(b, 1, CAST(doc_id % length(b) AS INT)) || 'x' || " +
              "substring(b, CAST(doc_id % length(b) AS INT) + 2)"))
          .as("key"))
        .distinct()
      val variants = keyed.select(col("key"),
        explode(expr("transform(sequence(0, length(key)), i -> " +
          "IF(i = 0, key, concat(substring(key, 1, i-1), substring(key, i+1))))"))
          .as("v"))
        .distinct()
      variants.as("x").join(variants.as("y"),
          col("x.v") === col("y.v") && col("x.key") < col("y.key"))
        .select(col("x.key").as("tok_a"), col("y.key").as("tok_b"))
        .distinct()
        // thresholded (banded-DP) levenshtein: the -1 sentinel rows are
        // the rows the <= 1 filter dropped anyway (r6 optimization)
        .withColumn("dist", levenshtein(col("tok_a"), col("tok_b"), 1).cast("long"))
        .filter(col("dist") >= 0L && col("dist") <= 1)
    }),
    "q292_greedy_cover" -> ((s, dir) => {
      // greedy max-coverage corpus selection (the classic (1−1/e)
      // facility-location greedy): pick K=5 documents maximizing NEW
      // 3-gram coverage — the principled "most diverse starter set"
      // selector behind seed-corpus curation and eval-set picking.
      // Greedy is inherently sequential in K, so the loop is K
      // bounded rounds: per round ONE anti-join of the gram table
      // against the (≤ K docs') covered set + a map-side gain count +
      // a SINGLE-ROW argmax collect (the bounded-collect convention,
      // cf. q100's histogram); a doc whose grams are all covered —
      // including every already-picked doc and its exact duplicates —
      // drops out of the gain table by construction, so no explicit
      // exclusion list is needed. Output: the picked sequence with
      // marginal gain and cumulative coverage.
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 2),
            i => array_join(slice(col("ts"), i, lit(3)), " "))).as("gram"))
        .distinct().cache()
      var covered = grams.select(col("gram")).filter(lit(false))
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      for (k <- 1 to 5) {
        val w = grams.join(covered, Seq("gram"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
          .agg(max(struct(col("gain"), (-col("doc_id")).as("nid"))).as("m"))
          .select(col("m.gain"), (-col("m.nid")).as("doc_id")).head()
        val (gain, id) = (w.getLong(0), w.getLong(1))
        covered = covered
          .unionByName(grams.filter(col("doc_id") === id).select(col("gram")))
          .distinct().localCheckpoint()
        picks += ((k.toLong, id, gain, covered.count()))
      }
      import s.implicits._
      picks.toSeq.toDF("round", "doc_id", "gain", "covered_after")
    }),
    "q284_fingerprint_pairs" -> ((s, dir) => {
      // the winnowed index OPERATIONALIZED — shared-run document pair
      // mining by fingerprint equi-join, what q276's index exists for
      // (MOSS's second half). Two standard guards make it scale:
      // fingerprints held by > 16 documents drop BEFORE pairing (a
      // template fingerprint pairs O(df²); capping hot postings is
      // the inverted-index convention, cf. q232's capped co-citation
      // — at web scale the cap IS the skew control), and a pair must
      // share >= 2 distinct fingerprints (one shared minimum can be a
      // lone hash tie). Work is Σ df² over RARE fingerprints only —
      // never doc × doc.
      val sel = winnowOf(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("sel_fp")).distinct()
      val rareFps = sel.groupBy(col("sel_fp"))
        .agg(count(lit(1)).as("dfc"))
        .filter(col("dfc") >= 2 && col("dfc") <= 16)
        .select(col("sel_fp"))
      val rare = sel.join(rareFps, Seq("sel_fp"), "left_semi")
      rare.as("x").join(rare.as("y"),
          col("x.sel_fp") === col("y.sel_fp") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    }),
    "q282_kendall_tau" -> ((s, dir) => {
      // exact Kendall tau between two retrieval scorers on the head —
      // the ranking-agreement eval next to overlap@k (q273/q248) and
      // RRF/MMR (q222/q230): do BM25 (q130's scorer) and plain
      // integer tf·idf order the top-20 the same way? Both rankings
      // carry a full (score DESC, doc_id ASC) tie-break, and since
      // pairs are enumerated with id_i < id_j, "i ranks before j"
      // collapses to score_i >= score_j — so concordance is pure
      // sign arithmetic, no rank window anywhere. The only unbounded
      // work is q130's own scoring shuffle; the pair fold runs on the
      // bounded 20-row head (190 pairs). tau emitted as floor ppm.
      val k1 = 1.2
      val b = 0.75
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .withColumn("len", size(col("ts")).cast("long"))
      val hits = docs.select(col("doc_id"), col("len"), explode(col("ts")).as("t"))
        .filter(col("t").isin(Bm25Terms: _*))
      val tf = hits.groupBy(col("doc_id"), col("len"), col("t"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.count()
      val avglen = docs.agg(sum(col("len"))).head.getLong(0).toDouble / n
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val scoredTerms = tf.join(broadcast(dfreq), "t")
        .withColumn("idf_s", expr(s"${n * 1000L} div df"))
        .withColumn("contrib",
          col("idf_s") * (col("tf") * (k1 + 1.0)) /
            (col("tf") + (lit(1.0 - b) + col("len") * b / avglen) * k1))
      val cols = Bm25Terms.map(t =>
        max(when(col("t") === t, col("contrib")).otherwise(lit(0.0))).as(s"c_$t"))
      val scored = scoredTerms.groupBy(col("doc_id"))
        .agg(cols.head, cols.tail ++
          Seq(sum(col("tf") * col("idf_s")).as("tfidf")): _*)
        .select(col("doc_id"),
          round((Bm25Terms.map(t => col(s"c_$t")).reduce(_ + _)) * 1e4, 0)
            .cast("long").as("a"),
          col("tfidf").as("b"))
      val top = scored.orderBy(col("a").desc, col("doc_id").asc).limit(20).cache()
      val l = top.select(col("doc_id").as("id_i"), col("a").as("a_i"),
        col("b").as("b_i"))
      val r = top.select(col("doc_id").as("id_j"), col("a").as("a_j"),
        col("b").as("b_j"))
      val pairs = l.join(r, col("id_i") < col("id_j"))
      val agg = pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when((col("a_i") >= col("a_j")) === (col("b_i") >= col("b_j")), 1L)
          .otherwise(0L)).as("concordant"))
      top.agg(count(lit(1)).as("n_items")).crossJoin(broadcast(agg))
        .withColumn("discordant", col("n_pairs") - col("concordant"))
        .withColumn("num", lit(1000000L) * (col("concordant") - col("discordant")))
        .select(col("n_items"), col("n_pairs"), col("concordant"),
          col("discordant"),
          expr("(num - pmod(num, n_pairs)) div n_pairs").as("tau_ppm"))
    }),
    "q277_robots_match" -> ((s, dir) => {
      // longest-prefix rule matching — the crawl-politeness gate
      // (robots.txt semantics: most-specific path prefix wins). The
      // per-host rule set derives deterministically from the distinct
      // sources (depth-1 rules for every first segment, depth-2 rules
      // only for b <= 3 so deeper paths REALLY fall back), so both
      // engines build the identical ruleset; the operator is the
      // match. Scale shape: rules are host-blocked and broadcast
      // (rules-per-host is small and bounded in any real crawl), the
      // candidate join is an equi-join on host + a codegen startswith
      // filter, winner = max over (prefix_len, prefix) struct — never
      // URL × all-rules.
      val docs = Tables.documents(s, dir)
      val srcs = docs.select(col("source")).distinct()
      val aCol = explode(sequence(lit(0), lit(6))).as("a")
      val r1 = srcs.select(col("source"), lit("/").as("prefix"),
        lit("allow").as("verdict"))
      val r2 = srcs.select(col("source"), aCol)
        .select(col("source"),
          concat(lit("/"), col("a").cast("string"), lit("/")).as("prefix"),
          when(pmod(hash60(concat(col("source"), lit(":"),
            col("a").cast("string"))), lit(2)) === 0, lit("allow"))
            .otherwise(lit("deny")).as("verdict"))
      val r3 = srcs.select(col("source"), aCol)
        .select(col("source"), col("a"),
          explode(sequence(lit(0), lit(3))).as("b"))
        .select(col("source"),
          concat(lit("/"), col("a").cast("string"), lit("/"),
            col("b").cast("string"), lit("/")).as("prefix"),
          when(pmod(hash60(concat(col("source"), lit(":"),
            col("a").cast("string"), lit(":"), col("b").cast("string"))), lit(2)) === 0,
            lit("deny")).otherwise(lit("allow")).as("verdict"))
      val rules = r1.unionByName(r2).unionByName(r3)
      val urls = docs.select(col("doc_id"), col("source").as("host"),
        concat(lit("/"), (col("doc_id") % 7).cast("string"), lit("/"),
          (col("doc_id") % 13).cast("string"), lit("/page-"),
          (col("doc_id") % 5).cast("string")).as("path"))
      urls.join(broadcast(rules),
          urls("host") === rules("source") &&
            col("path").startsWith(col("prefix")))
        .groupBy(col("doc_id"), col("host"), col("path"))
        .agg(max(struct(length(col("prefix")).as("l"),
          col("prefix").as("rule_prefix"), col("verdict").as("v"))).as("w"))
        .select(col("doc_id"), col("host"), col("path"),
          col("w.rule_prefix").as("rule_prefix"), col("w.v").as("verdict"))
    }),
    "q278_kappa" -> ((s, dir) => {
      // Cohen's kappa between the q15 heuristic language predictor and
      // the stored lang label — chance-corrected agreement, THE
      // classifier-audit statistic before trusting a cheap gate to
      // route a corpus. Exact integers end to end: po and pe carried
      // as (numerator, N²) rationals, kappa = (agree·N − Σ row_l·col_l)
      // / (N² − Σ row_l·col_l) emitted as a floor ppm via the engine-
      // identical (x − pmod(x,d)) div d. The confusion matrix is one
      // small shuffle (≤ 25 cells at any corpus size); everything
      // after folds broadcast one-row frames.
      val docs = Tables.documents(s, dir)
      val j = docs.select(col("doc_id"), col("lang"))
        .join(langPred(docs).select(col("doc_id"), col("pred_lang")), "doc_id")
      val conf = j.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("c"))
      val n = conf.agg(sum(col("c")).as("n_docs"))
      val agree = conf.filter(col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_agree"))
      val rowm = conf.groupBy(col("lang")).agg(sum(col("c")).as("rn"))
      val colm = conf.groupBy(col("pred_lang")).agg(sum(col("c")).as("cn"))
      val pe = rowm.join(colm, col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("rn") * col("cn")), lit(0L)).as("pe_num"))
      n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
        .withColumn("num",
          lit(1000000L) * (col("n_agree") * col("n_docs") - col("pe_num")))
        .withColumn("den", col("n_docs") * col("n_docs") - col("pe_num"))
        .select(col("n_docs"), col("n_agree"), col("pe_num"),
          expr("(num - pmod(num, den)) div den").as("kappa_ppm"))
    }),
    "q279_crawl_budget" -> ((s, dir) => {
      // largest-remainder (Hamilton) apportionment of a fixed crawl
      // budget of B=10000 fetch slots across (source, lang) strata by
      // document share — the exact-integer allocator behind politeness
      // budgeting and mixture targets (q77 samples by rate; this
      // apportions a hard total: Σ alloc == B exactly, which
      // rate-rounding cannot promise). base = (B·n_i) div N, the L
      // leftover slots go to the L largest remainders (source, lang
      // tie-break). Rank over the ≤ |sources|·|langs| bounded stratum
      // table via a self-join count — window-free, so no global sort
      // appears at any scale; the only corpus-size work is the one
      // counting shuffle.
      val B = 10000L
      val c = Tables.documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val t = c.agg(sum(col("n_docs")).as("n"))
      val b = c.crossJoin(broadcast(t))
        .select(col("source"), col("lang"), col("n_docs"),
          expr(s"($B * n_docs) div n").as("base_slots"),
          expr(s"$B * n_docs - (($B * n_docs) div n) * n").as("rem"))
      val lft = b.agg((lit(B) - sum(col("base_slots"))).as("leftover"))
      val other = b.select(col("rem").as("o_rem"), col("source").as("o_src"),
        col("lang").as("o_lang"))
      val ahead = b.join(other,
          col("o_rem") > col("rem") ||
            (col("o_rem") === col("rem") &&
              (col("o_src") < col("source") ||
                (col("o_src") === col("source") && col("o_lang") < col("lang")))),
          "left")
        .groupBy(col("source"), col("lang"), col("n_docs"),
          col("base_slots"), col("rem"))
        .agg(count(col("o_rem")).as("n_ahead"))
      ahead.crossJoin(broadcast(lft))
        .select(col("source"), col("lang"), col("n_docs"), col("base_slots"),
          when(col("n_ahead") < col("leftover"), 1L).otherwise(0L).as("extra"),
          (col("base_slots") +
            when(col("n_ahead") < col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
    }),
    "q15_langid" -> ((s, dir) => langPred(Tables.documents(s, dir))),
    "q16_quality_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts", tokens(col("text")))
      docs.select(
        col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_types"),
        round(lit(1000.0) * size(array_distinct(col("ts"))) / size(col("ts")), 0)
          .cast("long").as("ttr_milli"),
        round(lit(1000.0) *
          expr("size(filter(ts, t -> t IN ('the','a','of','and','is')))") / size(col("ts")), 0)
          .cast("long").as("stop_milli"),
        qualityMilli(col("ts")).as("quality_milli"))
    }),
    "q17_token_count" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+")).cast("long").as("word_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
    }),
    "q18_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        rollingFingerprint(tokens(col("text"))).as("fingerprint"))
    }),
    "q138_vocab_growth" -> ((s, dir) => {
      // per-source vocabulary statistics (type/token curves — the
      // corpus-composition dashboard): token count with multiplicity,
      // distinct types, and the type/token ratio in exact basis
      // points. One explode; both aggregates map-side combine on
      // source.
      Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("t")).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("n_types * 10000 div n_tokens").as("ttr_bp"))
    }),
    "q139_vocab_overlap" -> ((s, dir) => {
      // cross-source vocabulary Jaccard (corpus-mixture diagnostics:
      // how much do two sources share?): per-source type sets reduce
      // to (source, token) rows; the intersection is one equi-join on
      // the token, union sizes come from the per-source counts — all
      // exact integers, never materializing a set per row.
      val st = Tables.documents(s, dir)
        .select(col("source"), explode(array_distinct(tokens(col("text")))).as("t"))
        .distinct()
        .cache()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = st.as("a").join(st.as("b"),
          col("a.t") === col("b.t") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("na")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_inter"),
          expr("n_inter * 10000 div (na + nb - n_inter)").as("jaccard_bp"))
    }),
    "q140_pareto_select" -> ((s, dir) => {
      // Pareto data-selection frontier: documents no other document
      // beats on BOTH token count and type/token ratio. Bucket-pruned
      // exact distributed skyline (operators/Skyline) — never a
      // quadratic self-join, never a global sort; the oracle computes
      // the same frontier with two O(n log n) window sweeps.
      val docs = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .select(col("doc_id"),
          size(col("ts")).cast("long").as("n_tokens"),
          round(lit(1000.0) * size(array_distinct(col("ts"))) / size(col("ts")), 0)
            .cast("long").as("ttr_milli"))
      graft.operators.Skyline.skyline2D(docs, "n_tokens", "ttr_milli")
    }),
    "q143_outlier_lengths" -> ((s, dir) => {
      // per-source 3-sigma length-anomaly detection in EXACT integers —
      // |x − mean| > 3σ without ever materializing a float:
      // (n·x − Σx)² > 9·(n·Σx² − (Σx)²), i.e. both sides of the σ
      // comparison scaled by n². The salt plants extreme documents
      // (cf. q83's PII salt) so the detector has real anomalies to
      // find. One map-side-combined aggregate + a broadcast per-source
      // stats join — two narrow scans, no window, no sort. The
      // comparison runs in decimal(38,0): long squares wrap silently
      // past n·x̄ ≈ 3e9 (≈3e5 rows of 1e4 chars per source), decimal
      // holds to n·x̄ ≈ 1e19 — e.g. 1e12 rows × 1e4 chars per source.
      // (The oracle's BIGINT arithmetic is the small-scale truth; at
      // fixture scale both are exact.)
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        (length(col("text")).cast("long") + when(col("doc_id") % 101 === 0,
          lit(20000L) + col("doc_id") * 7L).otherwise(lit(0L))).as("salted_len"))
      val g = d.groupBy(col("source")).agg(count(lit(1)).as("n"),
        sum(col("salted_len")).as("sx"),
        sum(col("salted_len") * col("salted_len")).as("sxx"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val dev = dec(col("n")) * dec(col("salted_len")) - dec(col("sx"))
      d.join(broadcast(g), "source")
        .filter(dev * dev >
          lit(9) * (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))))
        .select(col("doc_id"), col("source"), col("salted_len"))
    }),
    "q146_curriculum_interleave" -> ((s, dir) => {
      // curriculum emission order: best-first within each source,
      // sources interleaved round-robin — a TOTAL order over the corpus
      // with NO global sort: rank windows partition by source, the
      // source offset comes from a bounded dense_rank over the ≤|S|
      // distinct sources (tiny, like the histogram collects), and the
      // global position is pure arithmetic (rank−1)·S + offset. A
      // 100 TB corpus gets a deterministic streaming-write order while
      // every exchange stays source-partitioned.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .select(col("doc_id"), col("source"),
          qualityMilli(col("ts")).as("quality_milli"))
      // ONE tiny job yields both the source index and |S| (collecting
      // the ≤|S|-row distinct, like the histogram collects elsewhere);
      // the offsets re-enter the plan as a broadcast literal frame
      import s.implicits._
      val srcList = docs.select(col("source")).distinct()
        .as[String].collect().sorted
      val nSrc = srcList.length.toLong
      val srcs = srcList.zipWithIndex
        .map { case (src, i) => (src, i.toLong) }.toSeq
        .toDF("source", "src_idx")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_milli").desc, col("doc_id").asc)
      docs.withColumn("r", row_number().over(w).cast("long"))
        .join(broadcast(srcs), "source")
        .select(col("doc_id"), col("source"), col("quality_milli"),
          ((col("r") - 1L) * nSrc + col("src_idx")).as("position"))
    }),
    "q135_kwic" -> ((s, dir) => {
      // keyword-in-context snippet extraction (the retrieval display /
      // concordance op): every occurrence of the query term emits its
      // ±2-token window. posexplode + slice arithmetic, all narrow —
      // no shuffle at all beyond the scan.
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"), posexplode(col("ts")))
        .filter(col("col") === KwicTerm)
        .withColumn("i", (col("pos") + 1).cast("long"))
        .select(col("doc_id"), col("i"),
          array_join(slice(col("ts"), greatest(col("i") - 2, lit(1L)),
            least(col("i") + 2, size(col("ts")).cast("long")) -
              greatest(col("i") - 2, lit(1L)) + 1), " ").as("snippet"))
    }),
    "q130_bm25_score" -> ((s, dir) => {
      // BM25-style retrieval scoring for a fixed query — the ranking
      // signal a retrieval-augmented pipeline computes corpus-wide.
      // Engine-exact determinism: idf uses the log-free integer
      // surrogate (N*1000 div df) — ln() is libm-dependent and would
      // not hash-match across engines — and the three per-term
      // contributions sum in FIXED column order (a groupBy SUM over
      // doubles would re-associate nondeterministically). One
      // explode + two map-side-combined aggregates + a 3-row broadcast.
      val k1 = 1.2
      val b = 0.75
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .withColumn("len", size(col("ts")).cast("long"))
      val hits = docs.select(col("doc_id"), col("len"), explode(col("ts")).as("t"))
        .filter(col("t").isin(Bm25Terms: _*))
      val tf = hits.groupBy(col("doc_id"), col("len"), col("t"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.count()
      val avglen = docs.agg(sum(col("len"))).head.getLong(0).toDouble / n
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(dfreq), "t")
        .withColumn("idf_s", expr(s"${n * 1000L} div df"))
        .withColumn("contrib",
          // Column*Double flips of the oracle's Double*Column products
          // are bit-identical (IEEE multiplication commutes)
          col("idf_s") * (col("tf") * (k1 + 1.0)) /
            (col("tf") + (lit(1.0 - b) + col("len") * b / avglen) * k1))
      val cols = Bm25Terms.map(t =>
        max(when(col("t") === t, col("contrib")).otherwise(lit(0.0))).as(s"c_$t"))
      scored.groupBy(col("doc_id"))
        .agg(cols.head, cols.tail: _*)
        .select(col("doc_id"),
          round((Bm25Terms.map(t => col(s"c_$t")).reduce(_ + _)) * 1e4, 0)
            .cast("long").as("score_e4"))
    }),
    "q120_bigram_novelty" -> ((s, dir) => {
      // corpus-novelty quality signal: the share of a doc's bigrams
      // appearing in NO other document (df = 1) — boilerplate scores
      // near zero, fresh content (or noise) scores high. ONE explode;
      // the bigram document-frequency aggregate is map-side combined;
      // the join back on the bigram key tolerates hot template bigrams
      // because its output collapses straight into the per-doc count.
      // All counts are exact integers (basis points via integer
      // division) — no FP drift between engines.
      val bi = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(ngrams(col("ts"), 2)).as("bg"))
      val dfreq = bi.groupBy(col("bg"))
        .agg(countDistinct(col("doc_id")).as("dfreq"))
      bi.join(dfreq, "bg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("dfreq") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
          expr("n_novel * 10000 div n_bigrams").as("novel_bp"))
    }),
    "q121_stratified_split" -> ((s, dir) => {
      // deterministic stratified train/val/test assignment (80/10/10):
      // a stable content hash buckets every doc 0..99 — no RNG, no
      // shuffle, no count pre-pass; the split is a pure map over the
      // scan, reproducible across engines and reruns, and per-source
      // proportions follow because the hash is independent of source.
      import graft.text.TextFunctions.hash60
      val h = pmod(hash60(concat(lit("split:"), col("doc_id"))), lit(100L))
      Tables.documents(s, dir).select(col("source"), col("doc_id"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
    }),
    "q61_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: flag training docs sharing an exact
      // n-gram with the held-out set (doc_id % 11 here; n=3 suits this
      // corpus's vocabulary — production uses 8-13). Scale shape: the
      // benchmark gram set is the SMALL side (broadcast); training docs
      // stream through one explode + hash semi-join + count — never an
      // all-pairs comparison.
      val n = 3
      val grams = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= n)
        .select(col("doc_id"), explode(ngrams(col("ts"), n)).as("g"))
      val bench = grams.filter(col("doc_id") % 11 === 0).select(col("g")).distinct()
      grams.filter(col("doc_id") % 11 =!= 0)
        .join(broadcast(bench), Seq("g"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hits"))
    }),
    "q261_auc_eval" -> ((s, dir) => {
      // exact Mann-Whitney AUC of the English-stopword score against
      // the lang='en' label — the threshold-free classifier eval
      // (does the q15 signal actually SEPARATE?), exact the whole
      // way: midranks carry as 2×rank integers (a tie group starting
      // after cum docs with n members has midrank2 = 2·cum + n + 1),
      // U2 = Σ_pos midrank2 − n_pos·(n_pos+1), AUC_ppm = U2·10⁶ div
      // (2·n_pos·n_neg). The per-score distribution is BOUNDED
      // (stopword counts), so the cumulative walk folds over ONE
      // collected sorted array per source (q213's KS convention) —
      // join-free, window-free; the oracle uses RANK windows as the
      // independent formulation.
      val en = langProfiles.toMap.apply("en")
      val scored = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .select(col("source"),
          expr(s"size(filter(ts, t -> t IN ${inList(en)}))")
            .cast("long").as("sc"),
          (col("lang") === "en").cast("long").as("pos"))
      scored.groupBy(col("source"), col("sc"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
        .groupBy(col("source"))
        .agg(sort_array(collect_list(
          struct(col("sc"), col("n"), col("np")))).as("arr"))
        .withColumn("st", aggregate(col("arr"),
          struct(lit(0L).as("cum"), lit(0L).as("u2"),
            lit(0L).as("npos"), lit(0L).as("ntot")),
          (acc, x) => struct(
            (acc.getField("cum") + x.getField("n")).as("cum"),
            (acc.getField("u2") + x.getField("np") *
              (acc.getField("cum") * 2 + x.getField("n") + 1)).as("u2"),
            (acc.getField("npos") + x.getField("np")).as("npos"),
            (acc.getField("ntot") + x.getField("n")).as("ntot"))))
        .filter(col("st.npos") > 0 && col("st.ntot") > col("st.npos"))
        .select(col("source"), col("st.npos").as("n_pos"),
          (col("st.ntot") - col("st.npos")).as("n_neg"),
          expr("(st.u2 - st.npos * (st.npos + 1)) * 1000000 div " +
            "(2 * st.npos * (st.ntot - st.npos))").as("auc_ppm"))
    }),
    "q262_incremental_decontamination" -> ((s, dir) => {
      // IVM #17 — the FILTER-SET axis the family lacked: q61's
      // contamination flags maintained under a change batch to the
      // BENCHMARK side, which is what actually changes in production
      // (new evals ship; nobody re-scans the training corpus for
      // them). Benchmark docs (%11=0) take the standard batch (%7=3
      // append, %13=5 delete, delete wins); the gram-set delta
      // ΔB = (B1\B0) ∪ (B0\B1) is small and BROADCASTS, affected
      // training docs = those containing a ΔB gram (one semi-join),
      // and only they re-count against B1 — every other doc's stored
      // hit count passes through one anti-join. O(docs touching
      // changed grams), never a corpus re-scan. Stored layer rebuilt
      // in-query as oracle scaffolding (q52/q70 adjudication);
      // oracle = full q61 recompute against the post benchmark set.
      val n = 3
      val grams = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= n)
        .select(col("doc_id"), explode(ngrams(col("ts"), n)).as("g"))
      val benchDocs0 = Tables.documents(s, dir)
        .filter(col("doc_id") % 11 === 0).select(col("doc_id"), col("text"))
      val b0 = grams.filter(col("doc_id") % 11 === 0).select(col("g")).distinct()
      val train = grams.filter(col("doc_id") % 11 =!= 0)
      val stored = train.join(broadcast(b0), Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(countDistinct(col("g")).as("n_hits"))
      val DocChanges(upd, del, _, _) = docChanges(benchDocs0)
      val post = benchDocs0
        .join(upd.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(upd)
        .join(del, Seq("doc_id"), "left_anti")
      val b1 = post.withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= n)
        .select(explode(ngrams(col("ts"), n)).as("g")).distinct()
      val deltaB = b1.join(b0, Seq("g"), "left_anti")
        .unionByName(b0.join(b1, Seq("g"), "left_anti"))
      val affected = train.join(broadcast(deltaB), Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
      val rederived = train.join(affected, Seq("doc_id"), "left_semi")
        .join(broadcast(b1), Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(countDistinct(col("g")).as("n_hits"))
      stored.join(affected, Seq("doc_id"), "left_anti")
        .unionByName(rederived)
    }),
    "q74_sequence_pack" -> ((s, dir) => {
      // greedy sequence packing over the corpus — see
      // [[graft.operators.SequencePack]] for the operator (one
      // co-locating shuffle + a streaming O(1)-state pass). Raw read,
      // not Tables.documents: the operator's repartition already
      // spreads the single-row-group test file, so the spread()
      // exchange would be a second, wasted shuffle.
      graft.operators.SequencePack.pack(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("source"), col("doc_id"), col("n_chars")),
        group = "source", order = "doc_id", cost = "n_chars", budget = 4000L)
        .select(col("source"), col("doc_id"), col("bin"))
    }),
    "q77_mixture_sample" -> ((s, dir) => {
      // deterministic data-mixture sampling (the "data mixing" stage of
      // a pretraining pipeline): each source gets a closed-form rate in
      // milli-units; a doc survives iff its stable 60-bit content hash
      // falls under the rate. Hash-threshold sampling is reproducible
      // across reruns/engines and needs no state — one narrow scan, no
      // shuffle, no RNG. Rates would come from a mixture-weights dim
      // table at scale (broadcast); the closed form keeps the oracle
      // exact here.
      import graft.text.TextFunctions.hash60
      val rate = (length(col("source")) % 5) * 200 + 100
      Tables.documents(s, dir)
        .filter(pmod(hash60(col("doc_id").cast("string")), lit(1000L)) < rate)
        .select(col("doc_id"), col("source"))
    }),
    "q78_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signal: the fraction of 3-grams
      // that are repeats of an earlier gram in the same doc (ppm,
      // integer-exact) + the hottest gram's count. Two
      // map-side-combined aggregations — (doc, gram) then doc — the
      // same shape at any corpus size.
      val n = 3
      val grams = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .filter(size(col("ts")) >= n)
        .select(col("doc_id"), explode(ngrams(col("ts"), n)).as("g"))
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("max_gram"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          expr("1000000 * (n_grams - n_distinct) div n_grams").as("rep_ppm"),
          col("max_gram"))
    }),
    "q83_pii_redact" -> ((s, dir) => {
      // PII scrubbing — the redaction stage a web-scale pipeline runs
      // before tokenization. The patterns are general (email / phone /
      // IPv4, written in the Java∩RE2 regex subset so the oracle runs
      // them VERBATIM); the PII instances are synthesized
      // deterministically onto the corpus (the synthetic documents
      // carry none). Pure codegen regexp ops — one narrow scan, zero
      // shuffle at any corpus size.
      val salted = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact u"), col("doc_id"),
              lit("@ex-"), col("doc_id") % 7, lit(".org")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" call +1-"), col("doc_id") % 700 + 200,
              lit("-555-"), col("doc_id") % 9000 + 1000))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" host 10."), col("doc_id") % 256,
              lit("."), (col("doc_id") * 7) % 256,
              lit("."), (col("doc_id") * 13) % 256))
          .otherwise(lit(""))).as("t2"))
      val red = Seq(PiiEmail -> "<EMAIL>", PiiPhone -> "<PHONE>", PiiIp -> "<IP>")
        .foldLeft(col("t2")) { case (c, (pat, tag)) =>
          regexp_replace(c, lit(pat), lit(tag)) }
      salted.select(col("doc_id"), red.as("redacted"),
        regexp_count(col("t2"), lit(PiiEmail)).cast("long").as("n_email"),
        regexp_count(col("t2"), lit(PiiPhone)).cast("long").as("n_phone"),
        regexp_count(col("t2"), lit(PiiIp)).cast("long").as("n_ip"))
    }),
    "q84_heavy_hitters" -> ((s, dir) =>
      // exact hot-term detection with bounded state — see
      // [[graft.operators.HeavyHitters]] (Misra-Gries candidates per
      // partition + exact recount of the broadcast union; never a
      // full-vocabulary shuffle). φ = 1/200 of all tokens.
      graft.operators.HeavyHitters.topFraction(
        Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("term")),
        "term", phiDen = 200)),
    "q75_tfidf_topk" -> ((s, dir) => {
      // TF-IDF term ranking with EXACT integer idf (floor(1000*N/df) —
      // a rational idf replaces ln so Spark and DuckDB hash
      // bit-identically; ranking behavior is the same monotone-in-1/df
      // shape). Scale: tf = one map-side-combined shuffle on
      // (doc_id, term); df = one on term (|vocab| rows, broadcastable
      // back); top-k = window over the doc_id-keyed tf frame.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      // ONE corpus scan: df and N both derive from the compact
      // (doc, term) frame — tf already holds one row per pair, so
      // df(term) = its per-term row count, never a second explode of
      // the corpus (cache scoped to this evaluation; the bench clears
      // state between reps)
      val tf = docs.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")).cache()
      val n = tf.select(col("doc_id")).distinct().count()
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        // one IEEE division of exactly-representable integers + floor:
        // bit-identical in Spark and DuckDB (no transcendental ln whose
        // last-ulp could flip a rounding boundary between engines)
        .withColumn("idf_milli", floor(lit(n) * lit(1000.0) / col("df")).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(broadcast(df), Seq("term"))
        .withColumn("score", col("tf") * col("idf_milli"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rn").cast("long").as("rn"))
    }),
    "q236_chunk_dedup" -> ((s, dir) => {
      // chunk-level exact dedup WITH document reassembly — the
      // repeated-passage/boilerplate removal step a curation pipeline
      // runs BELOW document granularity (q11 drops whole duplicate
      // docs; this drops re-used passages inside surviving docs): the
      // corpus splits into 8-token chunks, each distinct chunk string
      // survives only at its FIRST occurrence (min (doc_id, pos) —
      // deterministic), and every doc reassembles from its surviving
      // chunks in order. Plan: one narrow explode, one
      // map-side-combined min-struct per chunk — NEVER a rank window:
      // a universal boilerplate chunk at 100 TB is a huge group, and
      // the aggregate min folds it map-side where a window would sort
      // it on one reducer — one equi-join back (the hot chunk's
      // verify funnels to one reducer; production salts it exactly
      // like the PIP join's hot cells — the first-occurrence winner
      // is salt-invariant), one doc-keyed reassembly fold (bounded
      // per doc).
      val ch = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"),
          explode(expr("sequence(0, (size(ts) - 1) div 8)")).as("p"))
        .select(col("doc_id"), col("p"),
          array_join(slice(col("ts"), (col("p") * 8 + 1).cast("int"), lit(8)), " ")
            .as("chunk"))
      val firsts = ch.groupBy(col("chunk"))
        .agg(min(struct(col("doc_id"), col("p"))).as("f"))
      val kept = ch.join(firsts, "chunk")
        .filter(col("doc_id") === col("f.doc_id") && col("p") === col("f.p"))
      val re = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("kept"),
          array_join(transform(
            sort_array(collect_list(struct(col("p"), col("chunk")))),
            x => x.getField("chunk")), " ").as("new_text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("1 + (size(split(lower(text), '\\\\s+')) - 1) div 8").as("n_chunks"))
        .join(re, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          (col("n_chunks") - coalesce(col("kept"), lit(0L))).as("dropped"),
          coalesce(col("new_text"), lit("")).as("new_text"))
    }),
    "q247_template_prefix" -> ((s, dir) => {
      // per-source boilerplate PREFIX detection (template stripping —
      // the scraper-artifact removal a web pipeline runs before
      // dedup): sources carry a planted per-source banner
      // (repeat('promo ', 1 + len(source) % 3) || 'breaking : '
      // prepended in-query; both engines derive the same corpus),
      // and the operator recovers, per source, the longest token
      // prefix shared by ALL of the source's documents. Per
      // (source, pos) over the first K=16 tokens a position is
      // prefix-common iff every doc reaches it (cnt = n_docs) and
      // all agree (ndv = 1); lcp = first failing position − 1 (a
      // min-AGGREGATE — no window anywhere); the template string
      // reassembles from the agreed tokens. Cost: one narrow K-token
      // explode + bounded (source, pos) aggregates — never a doc×doc
      // comparison, never a corpus-length sort.
      val K = 16
      val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"),
        concat(expr("repeat('promo ', 1 + length(source) % 3)"),
          lit("breaking : "), col("text")).as("text"))
      val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tp = docs
        .select(col("source"),
          posexplode(slice(tokens(col("text")), 1, K)).as(Seq("p0", "tok")))
        .select(col("source"), (col("p0") + 1).as("pos"), col("tok"))
      val perPos = tp.groupBy(col("source"), col("pos"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("tok")).as("ndv"),
          max(col("tok")).as("tok"))
        .join(nd, "source")
      val bad = perPos
        .filter(col("cnt") =!= col("n_docs") || col("ndv") =!= 1)
        .groupBy(col("source")).agg(min(col("pos")).as("firstBad"))
      val lcp = nd.join(bad, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          (coalesce(col("firstBad"), lit(K + 1)) - 1).cast("long").as("lcp"))
      val templ = perPos
        .join(lcp.select(col("source"), col("lcp")), "source")
        .filter(col("pos") <= col("lcp"))
        .groupBy(col("source"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("template"))
      lcp.join(templ, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("lcp"),
          coalesce(col("template"), lit("")).as("template"))
    }),
    "q249_weighted_sample" -> ((s, dir) => {
      // deterministic weighted bottom-k sampling (priority sampling,
      // Duffield/Lund/Thorup shape, RNG-free): each doc draws
      // u = hash60(doc_id) and competes with priority key = u div w
      // (exact integer, u ~ 2^60 so the quantization is ppb-level —
      // a doc with weight w is ~w times likelier to land in the
      // bottom-k than a unit-weight doc); per
      // source the k=8 smallest keys win. Completes the sampling
      // family's third axis (q77/q93 fixed-ratio, q211
      // distribution-matched, this importance-WEIGHTED). One narrow
      // key computation + one source-partitioned top-k window (the
      // rank runs on ≤k survivors per partition under
      // TakeOrdered-style pruning; partitions are sources, bounded).
      val w8 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("key"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          (lit(1L) + col("n_chars") % 5).as("w"),
          hash60(col("doc_id").cast("string")).as("u"))
        .withColumn("key", expr("u div w"))
        .withColumn("rank", row_number().over(w8).cast("long"))
        .filter(col("rank") <= 8)
        .select(col("source"), col("rank"), col("doc_id"), col("w"), col("key"))
    }),
    "q250_incremental_chunk_dedup" -> ((s, dir) => {
      // IVM of q236's chunk first-occurrence winner table — IVM
      // member #15, the SUB-document dedup axis. Winners are
      // min-structs per chunk, and a min over a changed multiset can
      // ROLL BACK (delete the winning doc → the next occurrence must
      // win), so unlike q171's pure counter deltas the affected
      // chunks re-derive from their POST postings: affected = chunks
      // appearing in the touched docs' old text ∪ the updated docs'
      // new text; their surviving postings come from the chunk index
      // (q95's maintained postings in production — rebuilt here as
      // oracle scaffolding), so the re-derive is O(postings of
      // affected chunks), never a corpus re-chunk; every other
      // chunk's winner passes through ONE anti-join untouched.
      // Oracle: full winner recompute on the post-change corpus.
      def chunksOf(d: DataFrame): DataFrame = d
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"),
          explode(expr("sequence(0, (size(ts) - 1) div 8)")).as("p"))
        .select(col("doc_id"), col("p"),
          array_join(slice(col("ts"), (col("p") * 8 + 1).cast("int"), lit(8)), " ")
            .as("chunk"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val DocChanges(_, _, updatedLive, touchedIds) = docChanges(docs)
      val stored = chunksOf(docs).groupBy(col("chunk"))
        .agg(min(struct(col("doc_id"), col("p"))).as("f"))
      val affChunks = chunksOf(docs.join(touchedIds, Seq("doc_id"), "left_semi"))
        .select(col("chunk"))
        .union(chunksOf(updatedLive).select(col("chunk")))
        .distinct()
      val untouchedPost = chunksOf(docs.join(touchedIds, Seq("doc_id"), "left_anti"))
        .join(affChunks, Seq("chunk"), "left_semi")
      val rederived = untouchedPost.unionByName(chunksOf(updatedLive))
        .groupBy(col("chunk")).agg(min(struct(col("doc_id"), col("p"))).as("f"))
      stored.join(affChunks, Seq("chunk"), "left_anti")
        .unionByName(rederived)
        .select(col("chunk"), col("f.doc_id").as("doc_id"), col("f.p").as("p"))
    }),
    "q87_chunk_overlap" -> ((s, dir) => {
      // context-window chunking: fixed-size character chunks with
      // overlap (stride = size − overlap), the batch-assembly stage
      // before tokenization. Pure narrow plan — sequence + explode +
      // substr inside one codegen stage, NO shuffle: at 100 TB this is
      // embarrassingly parallel and the chunk explosion never leaves
      // its input partition.
      val (size, overlap) = (256, 64)
      val stride = size - overlap
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("n"))
        .select(col("doc_id"), col("text"), col("n"),
          explode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(stride)))
            .as("off"))
        .filter(col("off") < col("n"))
        .select(col("doc_id"),
          (col("off") / stride).cast("long").as("chunk_id"),
          col("text").substr(col("off") + 1, lit(size)).as("chunk"))
        .withColumn("n_chunk_chars", length(col("chunk")).cast("long"))
    }),
    "q89_inverted_index" -> ((s, dir) => {
      // search-index build: term -> ordered posting list (doc_id:tf).
      // Two-stage aggregation — (term, doc) counts first (map-side
      // combined, so the shuffle carries per-doc term counts, not raw
      // tokens), then one groupBy(term) assembles the ordered list.
      // Skew note for 100 TB: stopword-grade terms concentrate a
      // whole-corpus posting on one reducer — production shards a
      // posting list over pos ranges (the same salting scheme as the
      // PIP join's hot cells) or drops df > cutoff terms before the
      // second stage; the exact build here is the correctness anchor.
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(
            transform(
              sort_array(collect_list(struct(col("doc_id"), col("tf")))),
              p => concat(p.getField("doc_id"), lit(":"), p.getField("tf"))),
            ";").as("postings"))
    }),
    "q89b_inverted_salted" -> ((s, dir) => {
      // the skew-mitigated build (same oracle as q89 — the salted plan
      // must emit byte-identical posting lists): a stopword-grade term
      // concentrates its whole corpus-wide posting on one reducer in
      // the plain build. Here stage 2a assembles per-(term, salt)
      // partial lists — a hot term's df rows split across 8 reducers —
      // and stage 2b merges a BOUNDED fan-in of 8 pre-sorted partials
      // per term. Same technique as the PIP join's hot-cell salting
      // (q30b): exactness is the oracle's job, skew-split the plan's.
      val salt = 8
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val partial = tf
        .groupBy(col("term"), pmod(col("doc_id"), lit(salt)).as("s"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("part"),
          count(lit(1)).as("pdf"))
      partial.groupBy(col("term"))
        .agg(sum(col("pdf")).as("df"),
          array_join(
            transform(
              sort_array(flatten(collect_list(col("part")))),
              p => concat(p.getField("doc_id"), lit(":"), p.getField("tf"))),
            ";").as("postings"))
    }),
    "q96_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL is the interchange format of LLM data pipelines: encode
      // every document as one JSON line, then parse it back
      // (PERMISSIVE: malformed lines -> null struct, counted out by
      // the filter, exactly how a crawl-dump reader must behave). A
      // deliberately corrupt line rides along to prove the failure
      // path. The oracle is the original table — the round trip must
      // be lossless, escapes included. Pure narrow plan.
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val lines = Tables.documents(s, dir)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("line"))
        .unionByName(s.range(1).select(lit("{not json").as("line")))
      lines.select(from_json(col("line"), schema).as("r"))
        .filter(col("r").isNotNull && col("r.doc_id").isNotNull)
        .select(col("r.*"))
    }),
    "q100_budget_select" -> ((s, dir) => {
      // token-budget corpus curation: keep the highest-quality docs
      // (quality DESC, doc_id ASC) until the running token count
      // reaches 60% of the corpus. The NAIVE shape — the oracle — is a
      // global sort + prefix sum, a single-partition window at corpus
      // scale. The scale shape here: (1) one shuffle builds the
      // per-score token histogram (domain <= 1001 milli values — a
      // driver-safe collect, same contract as the IVF centroid row);
      // (2) the threshold + boundary-score remainder come from a
      // driver-side cumulative walk of that tiny array; (3) full
      // strata pass a codegen filter (NO sort anywhere); (4) the ONE
      // boundary stratum's doc_id-ordered prefix sum decomposes into
      // B independent range-bucket windows plus driver-computed
      // exclusive bucket offsets (cum = offset(bkt) + within-bucket
      // cum) — NO single-partition window anywhere, so even a
      // boundary stratum holding 1% of a 100 TB corpus sorts in
      // parallel slices.
      val base = Tables.documents(s, dir)
        .withColumn("ts", tokens(col("text")))
        .select(col("doc_id"), qualityMilli(col("ts")).as("score"),
          size(col("ts")).cast("long").as("toks"))
        .cache()
      val hist = base.groupBy(col("score"))
        .agg(sum(col("toks")).as("t"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(-_._1)
      val budget = hist.map(_._2).sum * 6 / 10
      var cum = 0L; var boundary = Long.MinValue
      var rem = 0L; var idLo = 0L; var idHi = 0L
      for ((sc, t, lo, hi) <- hist if boundary == Long.MinValue)
        if (cum + t <= budget) cum += t
        else { boundary = sc; rem = budget - cum; idLo = lo; idHi = hi }
      val keep = base.filter(col("score") > boundary)
      if (boundary == Long.MinValue) keep
      else {
        val nBuckets = 32L
        val width = math.max(1L, (idHi - idLo) / nBuckets + 1)
        val stratum = base.filter(col("score") === boundary)
          .withColumn("bkt", ((col("doc_id") - idLo) / width).cast("long"))
        // per-bucket token totals (<= nBuckets rows, driver-safe) ->
        // exclusive prefix offsets in doc_id-range order
        val totals = stratum.groupBy(col("bkt")).agg(sum(col("toks")).as("t"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var off = 0L
        val offsets = totals.map { case (b, t) => val o = off; off += t; (b, o) }
        import s.implicits._
        val offDf = offsets.toSeq.toDF("bkt", "off")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        keep.unionByName(
          stratum.join(broadcast(offDf), Seq("bkt"))
            .withColumn("cum", col("off") + sum(col("toks")).over(w))
            .filter(col("cum") <= rem)
            .select(col("doc_id"), col("score"), col("toks")))
      }
    }),
    "q109_dist_drift" -> ((s, dir) => {
      // corpus drift monitor: per source, the total-variation distance
      // (exact integer ppm) between the doc-length distributions of
      // the base corpus and the post-change corpus (q95's change
      // batch: id%7=3 gains tokens, id%13=5 deleted). TV over
      // 50-token buckets = sum |n1*T2 - n2*T1| * 1e6 / (2*T1*T2) —
      // all-integer, schedule-independent. Shape: two bucket
      // histograms (map-side combined), a full-outer align on
      // (source, bucket), and the tiny per-source totals broadcast
      // back. At T1*T2 near 2^63 the products need decimal — noted.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val changed = docChanges(docs).updated
      val fin = docs.filter(col("doc_id") % 13 =!= 5)
        .join(changed.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(changed.filter(col("doc_id") % 13 =!= 5))
      def hist(d: DataFrame, n: String): DataFrame = d
        .select(col("source"),
          (size(tokens(col("text"))).cast("long") / 50).cast("long").as("b"))
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as(n))
      val h = hist(docs, "n1").join(hist(fin, "n2"), Seq("source", "b"), "full_outer")
        .select(col("source"), coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"))
      h.groupBy(col("source"))
        .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
          collect_list(struct(col("n1"), col("n2"))).as("bs"))
        .select(col("source"), col("t1"), col("t2"),
          (aggregate(col("bs"), lit(0L), (acc, x) =>
            acc + abs(x.getField("n1") * col("t2") - x.getField("n2") * col("t1")))
            * 1000000L / (col("t1") * col("t2") * 2)).cast("long").as("drift_ppm"))
    }),
    "q98_dup_spans" -> ((s, dir) => {
      // ExactSubstr-style duplicated-span detection (the published
      // "dedup training data" signal at character granularity): every
      // doc emits 40-char windows at stride 20 (bounded 2x blowup —
      // NOT the O(n) every-offset suffix scan), a window hash seen in
      // >=2 DISTINCT docs marks its span duplicated, and each doc
      // reports window/dup-window counts + an integer ppm share. The
      // window count is closed-form (no second explode). Shape: one
      // narrow explode, two map-side-combined shuffles on the hash,
      // one on doc_id — never all-pairs, never a corpus sort.
      val L = 40; val S = 20
      val docs = Tables.documents(s, dir)
      val w = docs.filter(length(col("text")) >= L)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), length(col("text")) - (L - 1), lit(S)),
          p => hash60(col("text").substr(p, lit(L))))).as("h"))
      val dupH = w.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val perDoc = w.join(dupH, Seq("h"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dups"))
      val nw = when(length(col("text")) >= L,
        (length(col("text")) - L).cast("long") / S + 1)
        .otherwise(0L).cast("long")
      docs.select(col("doc_id"), nw.as("n_windows"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("dups"), lit(0L)).cast("long").as("n_dup_windows"),
          when(col("n_windows") > 0,
            coalesce(col("dups"), lit(0L)) * 1000000L / col("n_windows"))
            .otherwise(0L).cast("long").as("dup_ppm"))
    }),
    "q99_url_canonical" -> ((s, dir) => {
      // crawl-frontier URL canonicalization + collapse: fragment
      // dropped, scheme/host lowercased, leading www. and default :80
      // stripped, trailing path slashes trimmed, query params SORTED
      // — then dedup by the canonical form (min doc_id wins). The
      // messy inputs derive deterministically from (source, doc_id)
      // so both engines build the identical corpus; the canonicalizer
      // is the operator. Everything before the single canonical-key
      // shuffle is codegen'd string work.
      val docs = Tables.documents(s, dir)
      // the variant class derives from doc_id DIV 40 (not doc_id % 4,
      // which would correlate with the path) so docs sharing a path DO
      // carry different raw suffixes — the trailing-slash and fragment
      // variants of one URL really collapse into one canonical row
      val cls = expr("(doc_id DIV 40) % 4")
      val url = concat(lit("HTTP://WWW."), col("source"),
        lit(".Example.COM:80/p/"), col("doc_id") % 40,
        when(cls === 0, lit("/"))
          .when(cls === 1, lit("?b=2&a=1&c=3"))
          .when(cls === 2, lit("#frag"))
          .otherwise(lit("?a=1&b=2")))
      val parts = docs.select(col("doc_id"), url.as("url"))
        .withColumn("nf", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("scheme",
          lower(regexp_extract(col("nf"), "^([A-Za-z]+)://", 1)))
        .withColumn("host", regexp_replace(regexp_replace(
          lower(regexp_extract(col("nf"), "^[A-Za-z]+://([^/?#]+)", 1)),
          "^www\\.", ""), ":80$", ""))
        .withColumn("path0", regexp_replace(
          regexp_extract(col("nf"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
          "/+$", ""))
        .withColumn("q", regexp_extract(col("nf"), "\\?(.*)$", 1))
      parts.select(col("doc_id"), concat(
          col("scheme"), lit("://"), col("host"),
          when(col("path0") === "", lit("/")).otherwise(col("path0")),
          when(col("q") === "", lit("")).otherwise(concat(lit("?"),
            array_join(sort_array(split(col("q"), "&")), "&"))))
          .as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))
    }),
    "q95_incremental_index" -> ((s, dir) => {
      // IVM of the inverted index (q89) under a document change batch
      // — the text-side counterpart of q60/q80: updated docs (id%7=3
      // append tokens) and deleted docs (id%13=5) touch only their own
      // terms; every OTHER term's posting string passes through from
      // the stored index untouched (no re-aggregation). The batch
      // costs O(affected terms' postings), not O(vocabulary). The
      // oracle rebuilds the whole index from the post-change corpus.
      val docs = Tables.documents(s, dir)
      def tfOf(d: DataFrame): DataFrame = d
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      def index(tf: DataFrame): DataFrame = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(
            transform(
              sort_array(collect_list(struct(col("doc_id"), col("tf")))),
              p => concat(p.getField("doc_id"), lit(":"), p.getField("tf"))),
            ";").as("postings"))
      // stored state stand-ins (at scale: the index table + its
      // (term,doc) tf base, both key-bucketed); cache scoped to this
      // evaluation — the bench clears state between reps
      val baseTf = tfOf(docs).cache()
      val baseIndex = index(baseTf).cache()
      val DocChanges(updated, deletedIds, _, affectedDocs) = docChanges(docs)
      val removedTf = baseTf.join(affectedDocs, Seq("doc_id"), "left_semi")
      val addedTf = tfOf(updated)
        .join(deletedIds, Seq("doc_id"), "left_anti") // update ∩ delete → gone
      val affectedTerms = removedTf.select(col("term"))
        .union(addedTf.select(col("term"))).distinct()
      val newTfAffected = baseTf
        .join(affectedDocs, Seq("doc_id"), "left_anti")
        .unionByName(addedTf)
        .join(affectedTerms, Seq("term"), "left_semi")
      val rebuilt = index(newTfAffected)
      baseIndex.join(affectedTerms, Seq("term"), "left_anti")
        .unionByName(rebuilt)
    }),
    "q93_source_sample" -> ((s, dir) => {
      // deterministic per-group sampling (eval-set carve-outs): each
      // source keeps its k=5 docs with the smallest stable hash —
      // reproducible across engines and reruns, no RNG, one shuffle on
      // source. At corpus scale swap the per-source full window sort
      // for a partial per-partition top-k (q09's shape) — k and the
      // group count are tiny relative to the corpus.
      import graft.text.TextFunctions.hash60
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h60"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("h60", hash60(concat(lit("sample:"), col("doc_id"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("source"), col("doc_id"), col("h60"),
          col("rn").cast("long").as("rn"))
    }),
    "q115_cooccurrence" -> ((s, dir) => {
      // sliding-window token co-occurrence counts (the corpus
      // statistic behind PMI tables / embedding training pairs): each
      // position pairs with the next W tokens. Pair generation is a
      // NARROW double-explode — no doc_id self-join, which would
      // shuffle the token stream twice and go quadratic on long docs —
      // and the only shuffle is the map-side-combined groupBy on the
      // unordered (w1, w2) pair. The bounded vocabulary keeps the
      // output small; at corpus scale a df cutoff drops stopword-grade
      // pairs before the shuffle (q89's skew note applies verbatim).
      cooccurrencePairs(s, dir)
    }),
    "q171_incremental_cooccurrence" -> ((s, dir) => {
      // IVM of the q115 co-occurrence table under the standard
      // document change batch — the ADDITIVE COUNTER-DELTA flavor the
      // IVM family's set-based members (q95/q101/q110/q124) don't
      // exercise: pair counts decompose per document exactly, so the
      // maintained table is stored ⊎ (−pairs(old text of touched
      // docs)) ⊎ (+pairs(new text of live updated docs)) — ONE
      // map-side-combined sum over the three streams, zero-count rows
      // dropped. Work is O(touched docs' tokens), never a corpus
      // re-scan; the stored table is rebuilt in-query as oracle
      // scaffolding (q52/q70/q124 adjudication). Oracle: full
      // recompute on the post-change corpus.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val stored = cooccurrencePairsOf(docs)
      val DocChanges(_, _, updatedLive, affected) = docChanges(docs)
      val neg = cooccurrencePairsOf(docs.join(affected, Seq("doc_id"), "left_semi"))
        .select(col("w1"), col("w2"), (-col("n_pairs")).as("n_pairs"))
      val pos = cooccurrencePairsOf(updatedLive)
      stored.unionByName(neg).unionByName(pos)
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("n_pairs")).as("n_pairs"))
        .filter(col("n_pairs") > 0)
    }),
    "q174_trending_terms" -> ((s, dir) => {
      // exponentially time-decayed term popularity (half-life = 1
      // day), EXACT integers: weight(day d) = 2^d — a power-of-2
      // shift, never a float pow — so decayed = Σ cnt_d · (1<<d) folds
      // identically on both engines. Day = doc_id % 30 (q170's
      // publication-day stand-in). One shuffle to (term, day) counts,
      // one map-side-combined fold per term, global top-20 by
      // (decayed DESC, term) as TakeOrderedAndProject — the trending
      // feed a crawl pipeline derives next to q170's spatial trend.
      Tables.documents(s, dir)
        .select((col("doc_id") % 30).as("day"),
          explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("day")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("term"))
        .agg(sum(expr("cnt * shiftleft(CAST(1 AS BIGINT), CAST(day AS INT))"))
          .as("decayed"), sum(col("cnt")).as("n_total"))
        .orderBy(col("decayed").desc, col("term").asc)
        .limit(20)
    }),
    "q168_collocation_lift" -> ((s, dir) => {
      // PMI-style collocation scoring (the statistic behind phrase
      // mining / stopword-pair suppression) over the q115 pair table,
      // exact integers end-to-end: lift = p(a,b)/(p(a)·p(b)) over
      // pair slots = T·n_ab/(m_a·m_b), scaled to ppm. Marginals fold
      // from the pair AGGREGATE (bounded by vocabulary² — never
      // re-scanning the token stream); T rides as a 1-row broadcast;
      // the ppm product runs in DECIMAL(38,0) with integral `div`
      // (== DuckDB HUGEINT `//`, all operands non-negative — q163's
      // pattern). The n >= 3 support floor applies to the OUTPUT only;
      // marginals and T keep every pair, as the probabilities demand.
      val all = cooccurrencePairs(s, dir)
      val marg = all.select(col("w1").as("w"), col("n_pairs"))
        .unionByName(all.select(col("w2").as("w"), col("n_pairs")))
        .groupBy(col("w")).agg(sum(col("n_pairs")).as("m"))
      val tot = all.agg(sum(col("n_pairs")).as("t_pairs"))
      all.filter(col("n_pairs") >= 3)
        .join(marg.select(col("w").as("w1"), col("m").as("m1")), "w1")
        .join(marg.select(col("w").as("w2"), col("m").as("m2")), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("n_pairs"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * t_pairs * n_pairs)" +
            " div (m1 * m2) AS BIGINT)").as("lift_ppm"))
    }),
    "q150_block_dedup" -> ((s, dir) => {
      // corpus-level LINE/paragraph dedup (the CCNet shape): text
      // splits into non-overlapping 5-token blocks, and a block
      // survives only at its globally FIRST occurrence (min (doc_id,
      // position)); every later copy is boilerplate and drops. ONE
      // explode, one map-side-combined min aggregate on the block key,
      // one join back — hot template blocks collapse straight into the
      // per-doc counts, exactly q120's tolerance argument. The
      // first-occurrence key packs (doc_id, position) into one long
      // (position stride 1e6 — documents are pages, never 5M tokens).
      val B = 5
      val toksD = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= B)
      val blocks = toksD
        .select(col("doc_id"), col("ts"),
          explode(sequence(lit(0L),
            floor(size(col("ts")) / B).cast("long") - 1)).as("bi"))
        .select(col("doc_id"), col("bi"),
          concat_ws(" ", (0 until B).map(j =>
            element_at(col("ts"), (col("bi") * B + j + 1).cast("int"))): _*)
            .as("blk"))
      val key = col("doc_id") * 1000000L + col("bi")
      val firsts = blocks.groupBy(col("blk"))
        .agg(min(col("doc_id") * 1000000L + col("bi")).as("firstkey"))
      blocks.join(firsts, "blk")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(key === col("firstkey"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(key === col("firstkey"), col("bi")).otherwise(0L))
            .as("kept_pos_sum"))
    }),
    "q155_bm25_retrieval" -> ((s, dir) => {
      // sparse text RETRIEVAL (the leakage-audit / eval-dedup shape):
      // each paraphrased benchmark doc (q152's planted set) retrieves
      // its top-3 corpus docs by summed integer idf over shared
      // DISTINCT bigrams. The weighted query-term batch is tiny →
      // BROADCAST against the corpus posting stream (the retrieval
      // scale shape: queries ride to the postings, the corpus never
      // reshuffles per query batch); scores aggregate map-side; the
      // top-k window partitions by query. At web vocabulary a df
      // cutoff drops stopword-grade terms before the probe (q89's
      // skew note) — the synthetic bigram vocab is already selective.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def bigramsOf(d: DataFrame, idCol: String): DataFrame = d
        .select(col(idCol), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col(idCol),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"), col("ts"))
        .select(col(idCol),
          concat_ws(" ", element_at(col("ts"), col("i")),
            element_at(col("ts"), col("i") + 1)).as("bg"))
        .distinct()
      val cb = bigramsOf(docs, "doc_id")
      val bench = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + 1000000000L).as("query_id"),
          concat(col("text"), lit(" eval")).as("text"))
      val qb = bigramsOf(bench, "query_id")
      val dfreq = cb.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val qw = qb.join(dfreq, "bg").crossJoin(n)
        .select(col("query_id"), col("bg"), expr("n * 1000 div df").as("w"))
      val scored = cb.join(broadcast(qw), "bg")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("w")).as("score"), count(lit(1)).as("n_shared"))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("n_shared"), col("rank"))
    }),
    "q151_bigram_lm" -> ((s, dir) => {
      // corpus-trained bigram LM scoring (the KenLM-shaped fluency
      // signal, log-free): p(w2|w1) = c(w1 w2) / c(w1 ·) in exact
      // integer ppm, doc score = the mean over its bigrams — fluent
      // boilerplate scores high, token salad scores low. The "model"
      // aggregates map-side off ONE bigram stream (the prefix counts
      // reduce the already-aggregated bigram table, not the stream),
      // and both count tables are vocabulary-bounded → broadcast; the
      // scoring pass is a narrow broadcast-join over the stream, never
      // a corpus shuffle.
      val toksD = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
      val bg = toksD
        .select(col("doc_id"), col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(col("doc_id"),
          element_at(col("ts"), col("i")).as("w1"),
          element_at(col("ts"), col("i") + 1).as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      bg.join(broadcast(c2), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .withColumn("p_ppm", expr("c2 * 1000000 div c1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_ppm")).as("sum_ppm"))
        .withColumn("avg_ppm", expr("sum_ppm div n_bigrams"))
    }),
    "q178_trigram_backoff" -> ((s, dir) => {
      // trigram Stupid-Backoff scoring over a HELD-OUT split — q151's
      // production-shaped upgrade: the model trains on doc_id%5≠0 and
      // scores doc_id%5=0, so unseen trigrams genuinely fire the
      // backoff chain (scoring the training corpus never would).
      // S(w3|w1w2) = c3/c2(w1w2) if the trigram was seen, else
      // 0.4·c2(w2w3)/c1(w2), else 0.4²·c1(w3)/T — all in exact integer
      // ppm (10⁶/4·10⁵/1.6·10⁵ numerators, truncated div), the KenLM
      // trick without logs or floats. All four count tables are
      // vocabulary-bounded → broadcast; the scoring pass is a narrow
      // broadcast-join chain over the held-out trigram stream, ONE
      // corpus-side shuffle (the per-doc fold). At 100 TB the count
      // tables shuffle-join instead — same plan minus the hints.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val uni = train.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      val tot = uni.agg(sum(col("cu")).as("tt"))
      val c2 = train.filter(size(col("ts")) >= 2)
        .select(col("ts"), explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(element_at(col("ts"), col("i")).as("w1"),
          element_at(col("ts"), col("i") + 1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c3 = train.filter(size(col("ts")) >= 3)
        .select(col("ts"), explode(sequence(lit(1), size(col("ts")) - 2)).as("i"))
        .select(element_at(col("ts"), col("i")).as("w1"),
          element_at(col("ts"), col("i") + 1).as("w2"),
          element_at(col("ts"), col("i") + 2).as("w3"))
        .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
      val st = docs.filter(col("doc_id") % 5 === 0)
        .filter(size(col("ts")) >= 3)
        .select(col("doc_id"), col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 2)).as("i"))
        .select(col("doc_id"),
          element_at(col("ts"), col("i")).as("w1"),
          element_at(col("ts"), col("i") + 1).as("w2"),
          element_at(col("ts"), col("i") + 2).as("w3"))
      st.join(broadcast(c3), Seq("w1", "w2", "w3"), "left")
        .join(broadcast(c2.toDF("w1", "w2", "c2a")), Seq("w1", "w2"), "left")
        .join(broadcast(c2.toDF("w2", "w3", "c2b")), Seq("w2", "w3"), "left")
        .join(broadcast(uni.toDF("w2", "cu2")), Seq("w2"), "left")
        .join(broadcast(uni.toDF("w3", "cu3")), Seq("w3"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("s_ppm",
          when(col("c3").isNotNull, expr("1000000 * c3 div c2a"))
            .when(col("c2b").isNotNull, expr("400000 * c2b div cu2"))
            .when(col("cu3").isNotNull, expr("160000 * cu3 div tt"))
            .otherwise(lit(0L)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tri"), sum(col("s_ppm")).as("sum_ppm"))
        .withColumn("avg_ppm", expr("sum_ppm div n_tri"))
    }),
    "q194_feature_hash" -> ((s, dir) => {
      // feature-hashed bag-of-words (the hashing trick): each token
      // occurrence lands in dim = hash(term) % 16 with a second
      // independent hash bit as its sign, summed per (doc, dim) — the
      // fixed-width integer document vector that feeds linear/ANN
      // models WITHOUT any vocabulary build (no global window, no
      // fitted dictionary to ship; collisions are the accepted noise
      // of the method). hash60 is the engine's shared md5-based
      // cross-engine hash; dim and sign use DISJOINT bit ranges. One
      // narrow explode + one map-side-combined shuffle on (doc, dim).
      import graft.text.TextFunctions.{hash60, tokens}
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("h", hash60(col("term")))
        .groupBy(col("doc_id"), pmod(col("h"), lit(16L)).as("dim"))
        .agg(sum(when(pmod(expr("h div 16"), lit(2L)) === 0, 1L)
          .otherwise(-1L)).as("val"))
    }),
    "q206_bpe_merge" -> ((s, dir) => {
      // ONE byte-pair-encoding merge round (tokenizer training's inner
      // step): the corpus-wide most frequent adjacent token pair
      // (count DESC, pair ASC) merges LEFT-TO-RIGHT NON-OVERLAPPING in
      // every document. The sequential "non-overlapping" rule is pure
      // window arithmetic — overlapping matches only chain through
      // runs of consecutive match positions, and within such an island
      // exactly the even offsets merge — so no per-row UDF and no
      // sequential scan: two doc_id-partitioned windows + one
      // broadcast of the single winning pair. At vocab-training scale
      // each round is two shuffles over the token stream; rounds
      // iterate outside (cf. q178's LM counts).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val withNext = toks.withColumn("nxt", lead(col("tok"), 1).over(w))
      val top = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc, col("nxt").asc).limit(1)
        .select(col("tok").as("ta"), col("nxt").as("tb"))
      val matches = withNext.join(broadcast(top),
          col("tok") === col("ta") && col("nxt") === col("tb"))
        .select(col("doc_id"), col("pos"))
        .withColumn("isl", col("pos") - row_number().over(w))
      val applied = matches
        .withColumn("off", col("pos") -
          min(col("pos")).over(Window.partitionBy(col("doc_id"), col("isl"))))
        .filter(pmod(col("off"), lit(2)) === 0)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_merges"))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_before"))
        .join(applied, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_before"),
          coalesce(col("n_merges"), lit(0L)).as("n_merges"),
          (col("n_before") - coalesce(col("n_merges"), lit(0L))).as("n_after"))
    }),
    "q211_dist_match" -> ((s, dir) => {
      // importance-resampling the source corpus (even doc_ids) to match
      // the target corpus's (odd doc_ids) length distribution — domain
      // rebalancing as a mixture pipeline runs it: per length-bucket
      // keep-probability min(1, p_tgt/p_src), materialized as an EXACT
      // integer ppm threshold against the deterministic per-doc hash —
      // no RNG, no sort; the only driver-adjacent state is the
      // ≤#buckets-row threshold table (broadcast), and acceptance is a
      // narrow codegen filter. Completes q77/q93's fixed-ratio
      // sampling with a DISTRIBUTION-targeted rule.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), expr("size(split(text, ' ')) div 10")
          .cast("long").as("b"))
      val src = d.filter(col("doc_id") % 2 === 0)
      val tgt = d.filter(col("doc_id") % 2 === 1)
      val c0 = src.groupBy(col("b")).agg(count(lit(1)).as("cnt0"))
      val c1 = tgt.groupBy(col("b")).agg(count(lit(1)).as("cnt1"))
      val tot = src.agg(count(lit(1)).as("tot0"))
        .crossJoin(tgt.agg(count(lit(1)).as("tot1")))
      val th = c0.join(c1, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"), col("cnt0"),
          least(lit(1000000L),
            expr("coalesce(cnt1, 0) * tot0 * 1000000 div (cnt0 * tot1)"))
            .as("thresh_ppm"))
      val kept = src
        .join(broadcast(th.select(col("b"), col("thresh_ppm"))), Seq("b"))
        .filter(pmod(hash60(concat(lit("dm:"), col("doc_id"))),
          lit(1000000L)) < col("thresh_ppm"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_kept"))
      th.join(kept, Seq("b"), "left")
        .select(col("b").as("bucket"), col("cnt0").as("n_src"),
          col("thresh_ppm"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),
    "q213_ks_stat" -> ((s, dir) => {
      // two-sample Kolmogorov-Smirnov statistic between the even- and
      // odd-id corpora's length distributions — the DISTANCE companion
      // to q211's resampler and q109's TV drift: D = max_b |F0(b) −
      // F1(b)|, carried as the EXACT integer numerator
      // max |cum0·tot1 − cum1·tot0| (D = num/(tot0·tot1), no division
      // ever). The cumulative walk folds over ONE collected
      // ≤#buckets-row sorted array — join-free, window-free, nothing
      // unbounded ever leaves the aggregate.
      val cnt = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("size(split(text, ' ')) div 5").cast("long").as("b"))
        .groupBy(col("b"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("c1"))
      cnt.agg(sort_array(collect_list(struct(col("b"), col("c0"), col("c1"))))
          .as("a"), sum(col("c0")).as("tot0"), sum(col("c1")).as("tot1"))
        .select(
          aggregate(col("a"),
            struct(lit(0L).as("cum0"), lit(0L).as("cum1"), lit(0L).as("best")),
            (acc, x) => {
              val n0 = acc.getField("cum0") + x.getField("c0")
              val n1 = acc.getField("cum1") + x.getField("c1")
              struct(n0.as("cum0"), n1.as("cum1"),
                greatest(acc.getField("best"),
                  abs(n0 * col("tot1") - n1 * col("tot0"))).as("best"))
            },
            acc => acc.getField("best")).as("ks_num"),
          col("tot0"), col("tot1"))
    }),
    "q214_simpson" -> ((s, dir) => {
      // Simpson concentration of each user's visited-cell distribution
      // (mobility predictability): Σ nᵢ(nᵢ−1) / n(n−1) as the exact
      // integer pair (num, den) plus the floor-ppm ratio — two
      // map-side-combined shuffles, (user, cell) then user, no window,
      // no floats.
      Tables.events(s, dir)
        .select(col("user_id"),
          call_function("div", SynthUniverse.eventX, lit(4000)).as("cx"),
          call_function("div", SynthUniverse.eventY, lit(4000)).as("cy"))
        .groupBy(col("user_id"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("ni"))
        .groupBy(col("user_id"))
        .agg(sum(col("ni")).as("n"),
          sum(col("ni") * (col("ni") - 1)).as("num"))
        .filter(col("n") >= 2)
        .select(col("user_id"), col("num"),
          (col("n") * (col("n") - 1)).as("den"),
          expr("num * 1000000 div (n * (n - 1))").as("simpson_ppm"))
    }),
    "q217_cms_freq" -> ((s, dir) => {
      // Count-Min sketch term-frequency estimation — the MERGEABLE
      // bounded-state frequency summary next to KMV cardinality (q66/
      // q165) and Misra-Gries heavy hitters (q84): d=4 hash rows ×
      // w=256 buckets, built in ONE map-side-combined shuffle whose
      // output is ≤ d·w = 1024 rows no matter the corpus size (the
      // counter matrix is trivially mergeable across corpora /
      // partitions — per-cell sum). Probes (the top-50 exact terms,
      // bounded by TakeOrderedAndProject) join the BROADCAST counter
      // matrix; est = min over the d rows, which can only OVERESTIMATE
      // (est ≥ exact, asserted as over_bp ≥ 0 in the spec). Hash j is
      // the engine's shared md5-based hash60 over "cms<j>:<term>", the
      // same literal recipe injected into the oracle.
      val D = 4; val W = 256L
      val terms = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("term"))
      def cells(term: org.apache.spark.sql.Column) = cmsCells(term, D, W)
      val counters = terms
        .select(explode(cells(col("term"))).as("c"))
        .groupBy(col("c.j").as("j"), col("c.bkt").as("bkt"))
        .agg(count(lit(1)).as("cnt"))
      val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("term").asc).limit(50)
      exact
        .select(col("term"), col("exact"), explode(cells(col("term"))).as("p"))
        .select(col("term"), col("exact"),
          col("p.j").as("j"), col("p.bkt").as("bkt"))
        .join(broadcast(counters), Seq("j", "bkt"))
        .groupBy(col("term"), col("exact"))
        .agg(min(col("cnt")).as("est"))
        .select(col("term"), col("exact"), col("est"),
          expr("(est - exact) * 10000 div exact").as("over_bp"))
    }),
    "q219_vocab_growth" -> ((s, dir) => {
      // Heaps-law vocabulary-growth curve: cumulative distinct
      // vocabulary vs cumulative token count over the corpus in doc_id
      // order at a FIXED bucket count (K=128, bucket = doc_id·K div
      // (max_id+1) — the grain scales with the corpus, so the series
      // is ≤K rows at any sf). A term's first appearance is one
      // min-aggregate on the term key; per-bucket token totals are
      // map-side sums; the prefix sums fold over ONE collected
      // ≤K-row sorted array (q213's convention — join-free,
      // window-free, nothing unbounded leaves an aggregate). The
      // transform's slice-re-sum is O(K²) on a bounded K.
      val K = 128
      val docs = Tables.documents(s, dir)
      val maxid = docs.agg(max(col("doc_id")).as("m"))
      val d = docs.crossJoin(broadcast(maxid))
        .select(col("doc_id"), tokens(col("text")).as("ts"),
          expr(s"doc_id * $K div (m + 1)").as("bkt"))
      val tokTot = d.groupBy(col("bkt"))
        .agg(sum(size(col("ts")).cast("long")).as("toks"))
      val firsts = d
        .select(col("bkt"), explode(array_distinct(col("ts"))).as("term"))
        .groupBy(col("term")).agg(min(col("bkt")).as("bkt"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("newt"))
      tokTot.join(firsts, Seq("bkt"), "left")
        .select(col("bkt"), col("toks"),
          coalesce(col("newt"), lit(0L)).as("newt"))
        .agg(sort_array(collect_list(
          struct(col("bkt"), col("toks"), col("newt")))).as("a"))
        .select(explode(transform(col("a"), (x, i) => struct(
          x.getField("bkt").as("bkt"),
          aggregate(slice(col("a"), lit(1), i + 1), lit(0L),
            (acc, y) => acc + y.getField("toks")).as("cum_tokens"),
          aggregate(slice(col("a"), lit(1), i + 1), lit(0L),
            (acc, y) => acc + y.getField("newt")).as("cum_vocab")))).as("r"))
        .select(col("r.bkt").as("bkt"), col("r.cum_tokens").as("cum_tokens"),
          col("r.cum_vocab").as("cum_vocab"))
    }),
    "q222_rrf_fusion" -> ((s, dir) => {
      // reciprocal-rank fusion of two retrieval rankings — the hybrid
      // search combiner (lexical ⊕ second signal) every RAG/eval
      // pipeline runs downstream of q155. Ranking A = q155's summed
      // integer bigram idf; ranking B = unigram-idf overlap (an
      // independent lexical view: different vocabulary grain ranks
      // different docs). Each ranking is its own broadcast-probe
      // retrieval (queries ride to the posting streams, corpus never
      // reshuffles); fusion is a full-outer join of two ≤10-row-per-
      // query frames + the exact-integer RRF fold
      // Σ 1000000 div (60 + rank), absent ranks contributing 0 — so
      // the fusion stage is O(queries · k), independent of corpus
      // size. Top-5 fused per query via the query-partitioned window.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + 1000000000L).as("query_id"),
          concat(col("text"), lit(" eval")).as("text"))
      val n = docs.agg(count(lit(1)).as("n"))
      def grams(d: DataFrame, idCol: String, bi: Boolean): DataFrame = {
        val base = d.select(col(idCol), tokens(col("text")).as("ts"))
        if (bi) base.filter(size(col("ts")) >= 2)
          .select(col(idCol),
            explode(sequence(lit(1), size(col("ts")) - 1)).as("i"), col("ts"))
          .select(col(idCol),
            concat_ws(" ", element_at(col("ts"), col("i")),
              element_at(col("ts"), col("i") + 1)).as("g"))
          .distinct()
        else base.select(col(idCol), explode(array_distinct(col("ts"))).as("g"))
      }
      def ranked(bi: Boolean): DataFrame = {
        val cg = grams(docs, "doc_id", bi)
        val qg = grams(bench, "query_id", bi)
        val dfreq = cg.groupBy(col("g")).agg(count(lit(1)).as("df"))
        val qw = qg.join(dfreq, "g").crossJoin(n)
          .select(col("query_id"), col("g"), expr("n * 1000 div df").as("w"))
        val rk = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)
        cg.join(broadcast(qw), "g")
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("w")).as("score"))
          .withColumn("rank", row_number().over(rk))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("doc_id"), col("rank"))
      }
      val a = ranked(bi = true).withColumnRenamed("rank", "rank_a")
      val b = ranked(bi = false).withColumnRenamed("rank", "rank_b")
      val fused = a.join(b, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          (coalesce(expr("1000000 div (60 + rank_a)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rank_b)"), lit(0L))).as("rrf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
      fused.withColumn("frank", row_number().over(w).cast("long"))
        .filter(col("frank") <= 5)
        .select(col("query_id"), col("doc_id"), col("rrf"), col("frank"))
    }),
    "q224_hll_cardinality" -> ((s, dir) => {
      // HyperLogLog distinct-count sketch — the third mergeable
      // bounded-state summary next to KMV (q66: order statistics) and
      // CMS (q217: frequency): m=64 buckets keyed by the low 6 bits
      // of the shared md5 hash60, register = leading-zero rank of the
      // remaining 54 bits (capped at 30 so the power sum stays exact
      // BIGINT: n_sum = Σ 2^(30−r) ≤ 64·2^30, est = α·m²·2^30/n_sum
      // < 2^52 before the ppm fold). The whole corpus reduces to ONE
      // map-side-combined 64-row aggregate (register max is
      // trivially mergeable — per-bucket MAX across partitions /
      // corpora), then a single-row fold; the exact count alongside
      // is the oracle-grade reference the estimate is judged against
      // (err_bp signed). No bias correction below 2.5m — mirrored
      // arithmetic, documented regime (cardinality ≫ m here).
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(sequence(lit(1), size(col("ts")) - 1)).as("i"), col("ts"))
        .select(concat_ws(" ", element_at(col("ts"), col("i")),
          element_at(col("ts"), col("i") + 1)).as("bg"))
      val hashed = bg.select(col("bg"),
        hash60(concat(lit("hll:"), col("bg"))).as("h"))
      val regs = hashed
        .select((col("h") % 64).as("j"), expr("h div 64").as("rest"))
        .select(col("j"),
          when(col("rest") === 0L, lit(55L))
            .otherwise(lit(55L) - length(bin(col("rest")))).as("r"))
        .groupBy(col("j"))
        .agg(least(max(col("r")), lit(30L)).as("rc"))
      val nsum = regs
        .select(expr("CAST(pow(2, 30 - rc) AS BIGINT)").as("p"))
        .agg(sum(col("p")).as("n_sum"), count(lit(1)).as("m_used"))
      val exact = hashed.select(col("bg")).distinct()
        .agg(count(lit(1)).as("exact"))
      nsum.crossJoin(exact)
        .select(col("m_used"), col("n_sum"), col("exact"),
          hllEstimate("n_sum").as("est"))
        .select(col("m_used"), col("n_sum"), col("exact"), col("est"),
          expr("(est - exact) * 10000 div exact").as("err_bp"))
    }),
    "q226_incremental_heavy_hitters" -> ((s, dir) => {
      // IVM of q84's φ=1/200 heavy hitters under the standard document
      // change batch — the GLOBAL-THRESHOLD flavor the IVM family
      // lacked: per-term counts decompose additively (q171's
      // counter-delta — maintenance is ONE map-side-combined sum over
      // the touched docs' token streams, O(touched tokens)), but the
      // φ·N threshold is global, so the hitter SET is re-derived by
      // re-filtering the maintained count table — vocabulary-sized,
      // bucketed at scale, orders of magnitude below a corpus re-scan
      // — never by re-counting. The maintained table is rebuilt
      // in-query as oracle scaffolding (q52/q70 adjudication); oracle
      // = exact recount on the post-change corpus with q84's
      // cnt·200 > N predicate.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def termCounts(d: DataFrame): DataFrame = d
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val stored = termCounts(docs)
      val DocChanges(_, _, updatedLive, touchedIds) = docChanges(docs)
      val touched = docs.join(touchedIds, Seq("doc_id"), "left_semi")
      val delta = termCounts(touched)
        .select(col("term"), (-col("cnt")).as("d"))
        .unionByName(termCounts(updatedLive)
          .select(col("term"), col("cnt").as("d")))
      val maintained = stored.select(col("term"), col("cnt").as("d"))
        .unionByName(delta)
        .groupBy(col("term")).agg(sum(col("d")).as("cnt"))
        .filter(col("cnt") > 0)
      val total = maintained.agg(sum(col("cnt")).as("n"))
      maintained.crossJoin(broadcast(total))
        .filter(col("cnt") * 200 > col("n"))
        .select(col("term"), col("cnt"))
    }),
    "q229_token_gini" -> ((s, dir) => {
      // per-document Gini impurity of the token distribution — the
      // exact-rational diversity twin of the repetition signal (q78):
      // gini = 1 − Σ(cᵢ/n)², carried as (n² − Σcᵢ²)·10⁶ div n² in
      // BIGINT (no entropy logs, nothing transcendental). Two
      // map-side-combined shuffles — (doc, term) counts, then the
      // per-doc fold — both keyed on doc_id, so at corpus scale the
      // second aggregate reuses the first exchange.
      val tc = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      tc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sumsq"),
          count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n"), col("n_distinct"),
          expr("(n * n - sumsq) * 1000000 div (n * n)").as("gini_ppm"))
    }),
    "q230_mmr_diversify" -> ((s, dir) => {
      // Maximal-Marginal-Relevance diversified top-3 — the retrieval
      // post-processor between q155 (score) / q222 (fuse) and the
      // context window: greedy picks trade rank-relevance against the
      // candidate's max bigram-Jaccard similarity to what's already
      // selected (λ=½, folded in integer ppm: 2·mmr = rel − max_sim).
      // EVERYTHING after the top-10 candidate window operates on ≤10
      // rows per query: the pairwise-similarity table is an equi-join
      // on (query, shared bigram) over the candidate slice of the
      // posting stream (never doc×doc), and the K=3 greedy rounds
      // unroll as three bounded argmax struct-folds + left probes of
      // the ≤90-row-per-query sim table — the data-size-independent
      // tail of a retrieval pipeline. Absent sim rows mean disjoint
      // bigram sets (sim 0, coalesced identically in the oracle).
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 9 === 4)
        .select((col("doc_id") + 1000000000L).as("query_id"),
          concat(col("text"), lit(" eval")).as("text"))
      def bigramsOf(d: DataFrame, idCol: String): DataFrame = d
        .select(col(idCol), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col(idCol),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"), col("ts"))
        .select(col(idCol),
          concat_ws(" ", element_at(col("ts"), col("i")),
            element_at(col("ts"), col("i") + 1)).as("g"))
        .distinct()
      // (r6 note: caching cand/sim/cb here was tried and REGRESSED
      // 5.6→6.7 s — this is a single-action plan where ReusedExchange
      // already dedupes the repeated subtrees, and cache
      // materialization only breaks whole-stage pipelining)
      val cb = bigramsOf(docs, "doc_id")
      val qb = bigramsOf(bench, "query_id")
      val dfreq = cb.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val qw = qb.join(dfreq, "g").crossJoin(n)
        .select(col("query_id"), col("g"), expr("n * 1000 div df").as("w"))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val cand = cb.join(broadcast(qw), "g")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("w")).as("score"))
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"),
          ((lit(11L) - col("rank")) * 1000000L).as("rel"))
      // candidate bigram slice → pairwise Jaccard within each query
      val cbg = cand.select(col("query_id"), col("doc_id"))
        .join(cb, "doc_id")
      val sz = cbg.groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("nset"))
      val inter = cbg.select(col("query_id"), col("doc_id").as("da"), col("g"))
        .join(cbg.select(col("query_id"), col("doc_id").as("db"), col("g")),
          Seq("query_id", "g"))
        .filter(col("da") =!= col("db"))
        .groupBy(col("query_id"), col("da"), col("db"))
        .agg(count(lit(1)).as("ni"))
      val sim = inter
        .join(sz.select(col("query_id"), col("doc_id").as("da"),
          col("nset").as("na")), Seq("query_id", "da"))
        .join(sz.select(col("query_id"), col("doc_id").as("db"),
          col("nset").as("nb")), Seq("query_id", "db"))
        .select(col("query_id"), col("da"), col("db"),
          expr("ni * 1000000 div (na + nb - ni)").as("sim_ppm"))
      def argmax(d: DataFrame, scoreCol: String): DataFrame = d
        .groupBy(col("query_id"))
        .agg(max(struct(col(scoreCol), (-col("doc_id")).as("nd"))).as("m"))
        .select(col("query_id"), (-col("m.nd")).as("pick_doc"),
          col(s"m.$scoreCol").as("pick_score"))
      val p1 = argmax(cand, "rel")
      val r2 = cand.join(p1, "query_id")
        .filter(col("doc_id") =!= col("pick_doc"))
        .join(sim.select(col("query_id"), col("da").as("doc_id"),
          col("db").as("pick_doc"), col("sim_ppm")),
          Seq("query_id", "doc_id", "pick_doc"), "left")
        .select(col("query_id"), col("doc_id"),
          (col("rel") - coalesce(col("sim_ppm"), lit(0L))).as("mmr"))
      val p2 = argmax(r2, "mmr")
      val r3 = cand
        .join(p1.select(col("query_id"), col("pick_doc").as("d1")), "query_id")
        .join(p2.select(col("query_id"), col("pick_doc").as("d2")), "query_id")
        .filter(col("doc_id") =!= col("d1") && col("doc_id") =!= col("d2"))
        .join(sim.select(col("query_id"), col("da").as("doc_id"),
          col("db").as("d1"), col("sim_ppm").as("s1")),
          Seq("query_id", "doc_id", "d1"), "left")
        .join(sim.select(col("query_id"), col("da").as("doc_id"),
          col("db").as("d2"), col("sim_ppm").as("s2")),
          Seq("query_id", "doc_id", "d2"), "left")
        .select(col("query_id"), col("doc_id"),
          (col("rel") - greatest(coalesce(col("s1"), lit(0L)),
            coalesce(col("s2"), lit(0L)))).as("mmr"))
      val p3 = argmax(r3, "mmr")
      p1.select(col("query_id"), lit(1L).as("pick"),
          col("pick_doc").as("doc_id"), col("pick_score").as("mmr2"))
        .unionByName(p2.select(col("query_id"), lit(2L).as("pick"),
          col("pick_doc").as("doc_id"), col("pick_score").as("mmr2")))
        .unionByName(p3.select(col("query_id"), lit(3L).as("pick"),
          col("pick_doc").as("doc_id"), col("pick_score").as("mmr2")))
    }),
    "q266_nb_classifier" -> ((s, dir) => {
      // multinomial Naive-Bayes-STYLE text classification with exact
      // integer token-class affinity weights — the trainable quality/
      // domain classifier stage (CCNet/fastText shape) next to q15's
      // fixed-profile heuristic: w(t,c) = 10⁶·(cnt(c,t)+1) div
      // (tot_c+V) (Laplace-smoothed class-conditional frequency in
      // ppm), doc score = Σ_occurrences w + integer prior — an
      // additive linear scorer, so the per-class sum is
      // order-insensitive and folds identically cross-engine (a
      // log-product NB needs floats; the additive form is the integer
      // determinism trade). Class signal is PLANTED in-query (q247's
      // convention): every doc carries 10 'xm<lang>' marker tokens, so
      // training genuinely separates the classes (the synthetic corpus
      // is otherwise lang-independent). Train = doc_id%5≠0, score the
      // held-out rest; the weight/prior tables are vocabulary×classes-
      // bounded → broadcast; the only corpus-scale shuffles are the
      // count aggregate and the per-(doc, class) score fold; the
      // argmax window is doc-partitioned. Output: confusion matrix.
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        concat(col("text"),
          repeat(concat(lit(" xm"), col("lang")), 10)).as("t2"))
      val toks = base.select(col("doc_id"), col("lang"),
        explode(split(col("t2"), " ")).as("w"))
      val train = toks.filter(col("doc_id") % 5 =!= 0)
      val cnt = train.groupBy(col("lang").as("c"), col("w"))
        .agg(count(lit(1)).as("cw"))
      val totc = train.groupBy(col("lang").as("c")).agg(count(lit(1)).as("tc"))
      val vocab = train.select(col("w")).distinct()
      val weights = vocab.crossJoin(broadcast(totc))
        .join(cnt, Seq("c", "w"), "left")
        .crossJoin(broadcast(vocab.agg(count(lit(1)).as("vs"))))
        .select(col("w"), col("c"),
          expr("1000000 * (coalesce(cw, 0) + 1) div (tc + vs)").as("wt"))
      val trDocs = base.filter(col("doc_id") % 5 =!= 0)
      val prior = trDocs.groupBy(col("lang").as("c")).agg(count(lit(1)).as("nc"))
        .crossJoin(broadcast(trDocs.agg(count(lit(1)).as("nt"))))
        .select(col("c"), expr("1000000 * nc div nt").as("prior"))
      val scored = toks.filter(col("doc_id") % 5 === 0)
        .join(broadcast(weights), Seq("w"))
        .groupBy(col("doc_id"), col("lang"), col("c"))
        .agg(sum(col("wt")).as("sw"))
        .join(broadcast(prior), Seq("c"))
        .select(col("doc_id"), col("lang").as("actual"), col("c"),
          (col("sw") + col("prior")).as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("c").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("actual"), col("c").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    "q267_bpe_train" -> ((s, dir) => {
      // the BPE TRAINING LOOP — q206 (one merge round) iterated to a
      // 3-round vocabulary: each round finds the corpus-wide most
      // frequent adjacent pair (count DESC, pair ASC), applies it
      // LEFT-TO-RIGHT NON-OVERLAPPING everywhere (q206's island-parity
      // window arithmetic — no UDF, no sequential scan), rebuilds the
      // token stream (merged pairs concatenate, consumed successors
      // drop, positions renumber) and recounts. Per round: two
      // doc-partitioned windows + one pair-count shuffle + the
      // renumber window — the same cost profile a production
      // tokenizer trainer pays per merge. The stream localCheckpoints
      // between rounds (the q119/q124 convention) so round r's plan
      // does not re-derive rounds 1..r−1 multiplicatively. Output:
      // one row per round — the learned merge and the shrinking
      // corpus token count.
      import org.apache.spark.sql.expressions.Window
      def wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      var toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      var out: DataFrame = null
      for (r <- 1 to 3) {
        // (withNext deliberately uncached: materializing the corpus
        // token stream costs more than the window recompute it saves —
        // measured; the one-row `top` checkpoint below is the win)
        val withNext = toks.withColumn("nxt", lead(col("tok"), 1).over(wDoc))
        // localCheckpoint the ONE-ROW winner: it anchors the merge join,
        // the round row AND the final action — without truncation the
        // last action would re-run the whole pair count after the
        // round's cache is gone (r6)
        val top = withNext.filter(col("nxt").isNotNull)
          .groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("pair_count"))
          .orderBy(col("pair_count").desc, col("tok").asc, col("nxt").asc)
          .limit(1)
          .select(col("tok").as("ta"), col("nxt").as("tb"), col("pair_count"))
          .localCheckpoint()
        val m = withNext.join(broadcast(top.select(col("ta"), col("tb"))),
            col("tok") === col("ta") && col("nxt") === col("tb"))
          .select(col("doc_id"), col("pos"))
          .withColumn("isl", col("pos") - row_number().over(wDoc))
          .withColumn("off", col("pos") - min(col("pos"))
            .over(Window.partitionBy(col("doc_id"), col("isl"))))
          .filter(pmod(col("off"), lit(2)) === 0)
          .select(col("doc_id"), col("pos"))
        val newToks = withNext
          .join(m.withColumn("is_m", lit(1)), Seq("doc_id", "pos"), "left")
          .join(m.select(col("doc_id"), (col("pos") + 1).as("pos"))
            .withColumn("is_d", lit(1)), Seq("doc_id", "pos"), "left")
          .filter(col("is_d").isNull)
          .select(col("doc_id"), col("pos").as("opos"),
            when(col("is_m").isNotNull, concat(col("tok"), col("nxt")))
              .otherwise(col("tok")).as("tok"))
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("opos"))))
          .select(col("doc_id"), col("pos"), col("tok"))
          .localCheckpoint()
        val roundRow = top
          .crossJoin(newToks.agg(count(lit(1)).as("total_tokens_after")))
          .select(lit(r.toLong).as("merge_round"), col("ta"), col("tb"),
            col("pair_count"), col("total_tokens_after"))
        out = if (out == null) roundRow else out.unionByName(roundRow)
        toks = newToks
      }
      out
    }),
    "q270_incremental_cms" -> ((s, dir) => {
      // IVM #19, the SKETCH axis: the q217 Count-Min counter matrix
      // maintained under the standard change batch (doc_id%7=3 appends
      // ' merge stream merge', doc_id%13=5 deletes, delete wins). CMS
      // counters are additive and decompose per document exactly, so
      // the maintained matrix is stored ⊎ (−cells(old text of touched
      // docs)) ⊎ (+cells(new text of live updated docs)), folded in
      // ONE map-side-combined sum bounded at d·w = 1024 output rows;
      // the delta legs scan only the touched docs — O(batch), never a
      // corpus re-scan (the stored matrix is rebuilt in-query as
      // oracle scaffolding, q52/q70/q171 adjudication).
      val D = 4; val W = 256L
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      def cellsOf(d: DataFrame, sign: Long): DataFrame = d
        .select(explode(tokens(col("text"))).as("term"))
        .select(explode(cmsCells(col("term"), D, W)).as("c"))
        .select(col("c.j").as("j"), col("c.bkt").as("bkt"),
          lit(sign).as("dv"))
      val stored = cellsOf(docs, 1L)
      val DocChanges(_, _, updatedLive, affected) = docChanges(docs)
      val neg = cellsOf(docs.join(affected, Seq("doc_id"), "left_semi"), -1L)
      val pos = cellsOf(updatedLive, 1L)
      stored.unionByName(neg).unionByName(pos)
        .groupBy(col("j"), col("bkt")).agg(sum(col("dv")).as("cnt"))
        .filter(col("cnt") > 0)
    }),
  )

  private val profileSql = langProfiles.map { case (lang, words) =>
    lang -> s"len(list_filter(ts, t -> t IN ${inList(words)}))"
  }

  val oracles: Map[String, String] = Map(
    "q276_winnowing" ->
      winnowSql("SELECT doc_id, text FROM documents"),
    // full recompute over the post-change corpus — the IVM loop must
    // reproduce it row-for-row
    "q281_incremental_winnowing" ->
      winnowSql("""SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
        |      ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 5""".stripMargin),
    // the independent formulation: brute quadratic levenshtein over
    // the bounded key vocabulary — the deletion-neighborhood trick
    // must surface exactly these pairs
    "q293_symspell_join" ->
      """WITH b AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+')[1] AS b
        |  FROM documents),
        |k AS (SELECT DISTINCT CASE
        |    WHEN length(b) < 4 OR doc_id % 3 = 0 THEN b
        |    WHEN doc_id % 3 = 1 THEN
        |      substring(b, 1, CAST(doc_id % length(b) AS INT))
        |        || substring(b, CAST(doc_id % length(b) AS INT) + 2)
        |    ELSE substring(b, 1, CAST(doc_id % length(b) AS INT)) || 'x'
        |        || substring(b, CAST(doc_id % length(b) AS INT) + 2)
        |  END AS key FROM b)
        |SELECT a.key AS tok_a, c.key AS tok_b,
        |  CAST(levenshtein(a.key, c.key) AS BIGINT) AS dist
        |FROM k a JOIN k c
        |  ON a.key < c.key AND levenshtein(a.key, c.key) <= 1""".stripMargin,
    // the greedy rounds unroll as chained MATERIALIZED CTEs (each
    // argmax and covered set is materialized before the next round
    // reads it — the q191/q199 convention for sequential oracles)
    "q292_greedy_cover" -> {
      val rounds = (1 to 5).map { k =>
        s"""w$k AS MATERIALIZED (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
           |  FROM g WHERE gram NOT IN (SELECT gram FROM c${k - 1})
           |  GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1),
           |c$k AS MATERIALIZED (
           |  SELECT gram FROM c${k - 1}
           |  UNION
           |  SELECT gram FROM g WHERE doc_id = (SELECT doc_id FROM w$k))""".stripMargin
      }.mkString(",\n")
      val finals = (1 to 5).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS round, doc_id, gain,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c$k) AS covered_after
           |FROM w$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents),
         |g0 AS (
         |  SELECT doc_id,
         |    unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
         |      for i in range(1, len(ts) - 1)]) AS gram
         |  FROM toks WHERE len(ts) >= 3),
         |g AS MATERIALIZED (SELECT DISTINCT doc_id, gram FROM g0),
         |c0 AS (SELECT gram FROM g WHERE false),
         |$rounds
         |$finals""".stripMargin
    },
    "q284_fingerprint_pairs" ->
      s"""WITH ${winnowCtes("SELECT doc_id, text FROM documents")},
         |w AS (SELECT DISTINCT doc_id, sel_fp FROM sel),
         |rarefp AS (
         |  SELECT sel_fp FROM w GROUP BY sel_fp
         |  HAVING COUNT(*) BETWEEN 2 AND 16),
         |rare AS (SELECT w.* FROM w JOIN rarefp USING (sel_fp)),
         |p AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared
         |  FROM rare x JOIN rare y
         |    ON x.sel_fp = y.sel_fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared >= 2""".stripMargin,
    "q282_kendall_tau" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents),
        |d AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS len, ts FROM toks),
        |stats AS (SELECT COUNT(*) AS n, CAST(SUM(len) AS BIGINT) AS sl FROM d),
        |hits AS (SELECT doc_id, len, t
        |  FROM (SELECT doc_id, len, unnest(ts) AS t FROM d)
        |  WHERE t IN ('merge', 'stream', 'vector')),
        |tf AS (SELECT doc_id, len, t, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3),
        |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |c AS (SELECT tf.doc_id, tf.t, tf.tf,
        |    ((SELECT n FROM stats) * 1000 // df.df) AS idf_s,
        |    (((SELECT n FROM stats) * 1000 // df.df) * (tf.tf * (1.2 + 1.0))) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) +
        |      0.75 * tf.len / (CAST((SELECT sl FROM stats) AS DOUBLE)
        |                       / (SELECT n FROM stats)))) AS contrib
        |  FROM tf JOIN df ON tf.t = df.t),
        |s AS (SELECT doc_id, CAST(ROUND((
        |      MAX(CASE WHEN t = 'merge' THEN contrib ELSE 0.0 END)
        |    + MAX(CASE WHEN t = 'stream' THEN contrib ELSE 0.0 END)
        |    + MAX(CASE WHEN t = 'vector' THEN contrib ELSE 0.0 END)) * 10000, 0)
        |    AS BIGINT) AS a,
        |    CAST(SUM(tf * idf_s) AS BIGINT) AS b
        |  FROM c GROUP BY doc_id),
        |top AS (SELECT * FROM s ORDER BY a DESC, doc_id ASC LIMIT 20),
        |p AS (SELECT i.a AS a_i, j.a AS a_j, i.b AS b_i, j.b AS b_j
        |  FROM top i JOIN top j ON i.doc_id < j.doc_id),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN (a_i >= a_j) = (b_i >= b_j) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS concordant
        |  FROM p),
        |k AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM top) AS n_items,
        |    n_pairs, concordant, n_pairs - concordant AS discordant,
        |    1000000 * (concordant - (n_pairs - concordant)) AS num
        |  FROM f)
        |SELECT n_items, n_pairs, concordant, discordant,
        |  CAST((num - (((num % n_pairs) + n_pairs) % n_pairs)) // n_pairs
        |    AS BIGINT) AS tau_ppm
        |FROM k""".stripMargin,
    "q277_robots_match" ->
      """WITH srcs AS (SELECT DISTINCT source FROM documents),
        |r1 AS (SELECT source, '/' AS prefix, 'allow' AS verdict FROM srcs),
        |r2 AS (
        |  SELECT source, '/' || CAST(a AS VARCHAR) || '/' AS prefix,
        |    CASE WHEN CAST('0x' || substr(md5(source || ':' || CAST(a AS VARCHAR)),1,15) AS BIGINT) % 2 = 0
        |      THEN 'allow' ELSE 'deny' END AS verdict
        |  FROM srcs, range(0, 7) t(a)),
        |r3 AS (
        |  SELECT source,
        |    '/' || CAST(a AS VARCHAR) || '/' || CAST(b AS VARCHAR) || '/' AS prefix,
        |    CASE WHEN CAST('0x' || substr(md5(source || ':' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)),1,15) AS BIGINT) % 2 = 0
        |      THEN 'deny' ELSE 'allow' END AS verdict
        |  FROM srcs, range(0, 7) t(a), range(0, 4) u(b)),
        |rules AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3),
        |d AS (
        |  SELECT doc_id, source AS host,
        |    '/' || CAST(doc_id % 7 AS VARCHAR) || '/' || CAST(doc_id % 13 AS VARCHAR)
        |      || '/page-' || CAST(doc_id % 5 AS VARCHAR) AS path
        |  FROM documents),
        |m AS (
        |  SELECT d.doc_id, d.host, d.path, r.prefix, r.verdict,
        |    ROW_NUMBER() OVER (PARTITION BY d.doc_id
        |      ORDER BY length(r.prefix) DESC, r.prefix DESC) AS rn
        |  FROM d JOIN rules r ON r.source = d.host AND starts_with(d.path, r.prefix))
        |SELECT doc_id, host, path, prefix AS rule_prefix, verdict
        |FROM m WHERE rn = 1""".stripMargin,
    "q278_kappa" -> {
      val scores = profileSql.map { case (l, e) =>
        s"SELECT doc_id, '$l' AS lang, $e AS score FROM toks" }
        .mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents
         |), scores AS ($scores),
         |pred AS (
         |  SELECT doc_id, lang AS pred_lang
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |          ORDER BY score DESC, lang ASC) AS rn FROM scores)
         |  WHERE rn = 1),
         |conf AS (
         |  SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
         |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_docs FROM conf),
         |ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_agree
         |  FROM conf WHERE lang = pred_lang),
         |rm AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS rn FROM conf GROUP BY 1),
         |cm AS (SELECT pred_lang, CAST(SUM(c) AS BIGINT) AS cn FROM conf GROUP BY 1),
         |pe AS (SELECT CAST(COALESCE(SUM(rm.rn * cm.cn), 0) AS BIGINT) AS pe_num
         |  FROM rm JOIN cm ON cm.pred_lang = rm.lang),
         |k AS (
         |  SELECT n_docs, n_agree, pe_num,
         |    1000000 * (n_agree * n_docs - pe_num) AS num,
         |    n_docs * n_docs - pe_num AS den
         |  FROM n, ag, pe)
         |SELECT n_docs, n_agree, pe_num,
         |  CAST((num - (((num % den) + den) % den)) // den AS BIGINT) AS kappa_ppm
         |FROM k""".stripMargin
    },
    "q279_crawl_budget" ->
      """WITH c AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM c),
        |b AS (
        |  SELECT c.source, c.lang, c.n_docs,
        |    CAST((10000 * n_docs) // t.n AS BIGINT) AS base_slots,
        |    CAST(10000 * n_docs - ((10000 * n_docs) // t.n) * t.n AS BIGINT) AS rem
        |  FROM c, t),
        |l AS (SELECT CAST(10000 - SUM(base_slots) AS BIGINT) AS leftover FROM b),
        |r AS (
        |  SELECT a.source, a.lang, a.n_docs, a.base_slots,
        |    (SELECT COUNT(*) FROM b x
        |     WHERE x.rem > a.rem OR (x.rem = a.rem AND
        |       (x.source < a.source OR (x.source = a.source AND x.lang < a.lang))))
        |      AS n_ahead
        |  FROM b a)
        |SELECT source, lang, n_docs, base_slots,
        |  CAST(CASE WHEN n_ahead < l.leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  CAST(base_slots + CASE WHEN n_ahead < l.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r, l""".stripMargin,
    // not-dominated ⟺ b beats every b' at strictly larger a AND a
    // beats every a' at strictly larger b — two integer-RANGE window
    // sweeps replace the quadratic NOT EXISTS
    "q140_pareto_select" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), d AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(ROUND(1000.0*len(list_distinct(ts))/len(ts),0) AS BIGINT) AS ttr_milli
        |  FROM toks
        |), w AS (
        |  SELECT *,
        |    MAX(ttr_milli) OVER (ORDER BY n_tokens
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS mb,
        |    MAX(n_tokens) OVER (ORDER BY ttr_milli
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ma
        |  FROM d)
        |SELECT doc_id, n_tokens, ttr_milli FROM w
        |WHERE (mb IS NULL OR ttr_milli > mb)
        |  AND (ma IS NULL OR n_tokens > ma)""".stripMargin,
    "q146_curriculum_interleave" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, source,
        |    CAST(ROUND(1000.0*len(list_distinct(ts))/len(ts)
        |      *LEAST(1.0, len(ts)/100.0),0) AS BIGINT) AS quality_milli
        |  FROM toks
        |), srcs AS (
        |  SELECT source,
        |    CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) - 1 AS src_idx,
        |    (SELECT COUNT(DISTINCT source) FROM d) AS n_src
        |  FROM (SELECT DISTINCT source FROM d)
        |), r AS (
        |  SELECT doc_id, source, quality_milli,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY quality_milli DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM d)
        |SELECT r.doc_id, r.source, r.quality_milli,
        |  (r.rk - 1) * s.n_src + s.src_idx AS position
        |FROM r JOIN srcs s ON r.source = s.source""".stripMargin,
    "q143_outlier_lengths" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(length(text) + CASE WHEN doc_id % 101 = 0
        |      THEN 20000 + doc_id * 7 ELSE 0 END AS BIGINT) AS salted_len
        |  FROM documents
        |), g AS (
        |  SELECT source, COUNT(*) AS n, SUM(salted_len) AS sx,
        |    SUM(salted_len*salted_len) AS sxx
        |  FROM d GROUP BY source
        |)
        |SELECT d.doc_id, d.source, d.salted_len
        |FROM d JOIN g ON d.source = g.source
        |WHERE (g.n*d.salted_len - g.sx)*(g.n*d.salted_len - g.sx)
        |    > 9*(g.n*g.sxx - g.sx*g.sx)""".stripMargin,
    "q83_pii_redact" ->
      s"""WITH salted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0 THEN ' contact u' || doc_id || '@ex-' || (doc_id % 7) || '.org'
         |         WHEN doc_id % 4 = 1 THEN ' call +1-' || (doc_id % 700 + 200) || '-555-' || (doc_id % 9000 + 1000)
         |         WHEN doc_id % 4 = 2 THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id*7) % 256) || '.' || ((doc_id*13) % 256)
         |         ELSE '' END AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t2,
         |    '$PiiEmail', '<EMAIL>', 'g'),
         |    '$PiiPhone', '<PHONE>', 'g'),
         |    '$PiiIp', '<IP>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t2, '$PiiEmail')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t2, '$PiiPhone')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t2, '$PiiIp')) AS BIGINT) AS n_ip
         |FROM salted""".stripMargin,
    "q84_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS total FROM toks)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM toks GROUP BY term
        |HAVING COUNT(*) * 200 > (SELECT total FROM tot)""".stripMargin,
    "q15_langid" -> {
      val scores = profileSql.map { case (l, e) => s"SELECT doc_id, '$l' AS lang, $e AS score FROM toks" }
        .mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents
         |), scores AS ($scores)
         |SELECT doc_id, lang AS pred_lang, CAST(score AS BIGINT) AS best_score
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, lang ASC) AS rn FROM scores)
         |WHERE rn = 1""".stripMargin
    },
    "q16_quality_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_types,
        |  CAST(ROUND(1000.0*len(list_distinct(ts))/len(ts),0) AS BIGINT) AS ttr_milli,
        |  CAST(ROUND(1000.0*len(list_filter(ts, t -> t IN ('the','a','of','and','is')))/len(ts),0) AS BIGINT) AS stop_milli,
        |  CAST(ROUND(1000.0*len(list_distinct(ts))/len(ts)*LEAST(1.0, len(ts)/100.0),0) AS BIGINT) AS quality_milli
        |FROM toks""".stripMargin,
    "q17_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS word_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents""".stripMargin,
    "q18_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |)
        |SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend(0::BIGINT,
        |      [CAST('0x' || substr(md5(t),1,15) AS BIGINT) % 1099511627776 for t in ts]),
        |    (a, b) -> (a * 1000003 + b) % 1099511627776) AS BIGINT) AS fingerprint
        |FROM toks""".stripMargin,
    "q61_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(ts[i:i+2], ' ')
        |                         for i in range(1, len(ts) - 1)]) AS g
        |  FROM toks WHERE len(ts) >= 3
        |),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0)
        |SELECT g.doc_id, CAST(COUNT(DISTINCT g.g) AS BIGINT) AS n_hits
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id % 11 <> 0
        |GROUP BY 1""".stripMargin,
    // independent formulation: RANK-window midranks (the plan folds a
    // collected bounded array instead)
    "q261_auc_eval" ->
      s"""WITH s AS (
         |  SELECT source,
         |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> t IN ${inList(langProfiles.toMap.apply("en"))})) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |r AS (SELECT source, sc, pos,
         |    2 * (RANK() OVER (PARTITION BY source ORDER BY sc) - 1)
         |      + COUNT(*) OVER (PARTITION BY source, sc) + 1 AS mid2
         |  FROM s),
         |t AS (SELECT source,
         |    SUM(CASE WHEN pos = 1 THEN mid2 ELSE 0 END) AS u2,
         |    SUM(pos) AS npos, COUNT(*) AS ntot
         |  FROM r GROUP BY 1)
         |SELECT source, CAST(npos AS BIGINT) AS n_pos,
         |  CAST(ntot - npos AS BIGINT) AS n_neg,
         |  CAST((u2 - npos * (npos + 1)) * 1000000
         |    // (2 * npos * (ntot - npos)) AS BIGINT) AS auc_ppm
         |FROM t WHERE npos > 0 AND ntot > npos""".stripMargin,
    // full q61 recompute against the post benchmark set — the
    // filter-set IVM must reproduce it row-for-row
    "q262_incremental_decontamination" ->
      """WITH pd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 AND doc_id % 7 = 3
        |      THEN text || ' merge stream merge' ELSE text END AS text
        |  FROM documents
        |  WHERE doc_id % 11 <> 0 OR doc_id % 13 <> 5),
        |toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM pd),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(ts[i:i+2], ' ')
        |                         for i in range(1, len(ts) - 1)]) AS g
        |  FROM toks WHERE len(ts) >= 3),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0)
        |SELECT g.doc_id, CAST(COUNT(DISTINCT g.g) AS BIGINT) AS n_hits
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id % 11 <> 0
        |GROUP BY 1""".stripMargin,
    "q138_vocab_growth" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_tokens,
        |  COUNT(DISTINCT t) AS n_types,
        |  CAST(COUNT(DISTINCT t) * 10000 // COUNT(*) AS BIGINT) AS ttr_bp
        |FROM t GROUP BY source""".stripMargin,
    "q139_vocab_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, unnest(string_split_regex(lower(text), '\s+')) AS t
        |  FROM documents),
        |sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
        |iv AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
        |  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_inter,
        |  CAST(n_inter * 10000 // (na.n + nb.n - n_inter) AS BIGINT) AS jaccard_bp
        |FROM iv JOIN sz na ON iv.src_a = na.source
        |        JOIN sz nb ON iv.src_b = nb.source""".stripMargin,
    "q135_kwic" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents)
         |SELECT doc_id, CAST(i AS BIGINT) AS i,
         |  array_to_string(ts[GREATEST(i - 2, 1):LEAST(i + 2, len(ts))], ' ')
         |    AS snippet
         |FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
         |      FROM toks)
         |WHERE ts[i] = '$KwicTerm'""".stripMargin,
    // FP-parity notes: the idf is the log-free integer surrogate
    // (ln() is libm-dependent); k1+1 folds from the SAME literals
    // (1.2 + 1.0) in both engines — a 2.2 literal could be a
    // different double; avglen derives from the same exact integer
    // sum/count division; the 3 contributions add in fixed order.
    "q130_bm25_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents),
        |d AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS len, ts FROM toks),
        |stats AS (SELECT COUNT(*) AS n, CAST(SUM(len) AS BIGINT) AS sl FROM d),
        |hits AS (SELECT doc_id, len, t
        |  FROM (SELECT doc_id, len, unnest(ts) AS t FROM d)
        |  WHERE t IN ('merge', 'stream', 'vector')),
        |tf AS (SELECT doc_id, len, t, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3),
        |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |c AS (SELECT tf.doc_id, tf.t,
        |    (((SELECT n FROM stats) * 1000 // df.df) * (tf.tf * (1.2 + 1.0))) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) +
        |      0.75 * tf.len / (CAST((SELECT sl FROM stats) AS DOUBLE)
        |                       / (SELECT n FROM stats)))) AS contrib
        |  FROM tf JOIN df ON tf.t = df.t)
        |SELECT doc_id, CAST(ROUND((
        |    MAX(CASE WHEN t = 'merge' THEN contrib ELSE 0.0 END)
        |  + MAX(CASE WHEN t = 'stream' THEN contrib ELSE 0.0 END)
        |  + MAX(CASE WHEN t = 'vector' THEN contrib ELSE 0.0 END)) * 10000, 0)
        |  AS BIGINT) AS score_e4
        |FROM c GROUP BY doc_id""".stripMargin,
    "q120_bigram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, unnest([array_to_string(ts[i:i+1], ' ')
        |                         for i in range(1, len(ts))]) AS bg
        |  FROM toks WHERE len(ts) >= 2
        |),
        |df AS (SELECT bg, COUNT(DISTINCT doc_id) AS dfreq FROM bg GROUP BY bg)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) * 10000
        |    // COUNT(*) AS BIGINT) AS novel_bp
        |FROM bg b JOIN df ON b.bg = df.bg
        |GROUP BY b.doc_id""".stripMargin,
    "q121_stratified_split" ->
      """SELECT source, doc_id,
        |  CASE WHEN CAST('0x' || substr(md5('split:' || doc_id),1,15) AS BIGINT)
        |         % 100 < 80 THEN 'train'
        |       WHEN CAST('0x' || substr(md5('split:' || doc_id),1,15) AS BIGINT)
        |         % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q77_mixture_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
        |        % 1000
        |      < (length(source) % 5) * 200 + 100""".stripMargin,
    "q78_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(ts[i:i+2], ' ')
        |                         for i in range(1, len(ts) - 1)]) AS g
        |  FROM toks WHERE len(ts) >= 3
        |),
        |pg AS (SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(1000000 * (SUM(cnt) - COUNT(*)) // SUM(cnt) AS BIGINT) AS rep_ppm,
        |  CAST(MAX(cnt) AS BIGINT) AS max_gram
        |FROM pg GROUP BY doc_id""".stripMargin,
    "q74_sequence_pack" ->
      """WITH RECURSIVE seq AS (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT source, doc_id, n_chars, rn,
        |    CAST(0 AS BIGINT) AS bin, n_chars AS acc
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.source, s.doc_id, s.n_chars, s.rn,
        |    CASE WHEN p.acc + s.n_chars > 4000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.acc + s.n_chars > 4000 THEN s.n_chars
        |         ELSE p.acc + s.n_chars END
        |  FROM seq s JOIN pack p ON s.source = p.source AND s.rn = p.rn + 1)
        |SELECT source, doc_id, CAST(bin AS BIGINT) AS bin FROM pack""".stripMargin,
    "q75_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * CAST(FLOOR(1000.0 * n.n / df.df) AS BIGINT) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, CAST(score AS BIGINT) AS score, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term ASC) AS rn FROM scored)
        |WHERE rn <= 3""".stripMargin,
    // independent formulation: rank window picks the first occurrence
    // where the Spark plan folds a min-struct aggregate
    "q236_chunk_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS ts FROM documents),
        |ch AS (SELECT doc_id, p,
        |    array_to_string(ts[p*8+1 : p*8+8], ' ') AS chunk
        |  FROM t, LATERAL unnest(generate_series(0, (len(ts)-1)//8)) AS tp(p)),
        |k AS (SELECT doc_id, p, chunk FROM ch
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY chunk
        |    ORDER BY doc_id, p) = 1),
        |re AS (SELECT doc_id, COUNT(*) AS kept,
        |    string_agg(chunk, ' ' ORDER BY p) AS new_text FROM k GROUP BY 1),
        |nc AS (SELECT doc_id, 1 + (len(ts)-1)//8 AS n_chunks FROM t)
        |SELECT nc.doc_id, n_chunks, COALESCE(kept, 0) AS kept,
        |  n_chunks - COALESCE(kept, 0) AS dropped,
        |  COALESCE(new_text, '') AS new_text
        |FROM nc LEFT JOIN re USING (doc_id)""".stripMargin,
    "q247_template_prefix" ->
      """WITH d AS (SELECT source, doc_id,
        |    repeat('promo ', CAST(1 + length(source) % 3 AS INT))
        |      || 'breaking : ' || text AS text
        |  FROM documents),
        |toks AS (SELECT source, doc_id,
        |    string_split_regex(lower(text), '\s+') AS ts FROM d),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY 1),
        |tp AS (SELECT source, doc_id, i AS pos, ts[CAST(i AS INT)] AS tok
        |  FROM toks, range(1, 17) t(i) WHERE i <= len(ts)),
        |pp AS (SELECT source, pos, COUNT(*) AS cnt,
        |    COUNT(DISTINCT tok) AS ndv, MAX(tok) AS tok
        |  FROM tp GROUP BY 1, 2),
        |bad AS (SELECT pp.source, MIN(pos) AS fb
        |  FROM pp JOIN nd USING (source)
        |  WHERE cnt <> n_docs OR ndv <> 1 GROUP BY 1),
        |lcp AS (SELECT nd.source, n_docs,
        |    CAST(COALESCE(fb, 17) - 1 AS BIGINT) AS lcp
        |  FROM nd LEFT JOIN bad USING (source)),
        |tmpl AS (SELECT pp.source,
        |    string_agg(tok, ' ' ORDER BY pos) AS template
        |  FROM pp JOIN lcp USING (source) WHERE pos <= lcp GROUP BY 1)
        |SELECT source, n_docs, lcp, COALESCE(template, '') AS template
        |FROM lcp LEFT JOIN tmpl USING (source)""".stripMargin,
    "q249_weighted_sample" ->
      """WITH k AS (
        |  SELECT source, doc_id, 1 + n_chars % 5 AS w,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS u
        |  FROM documents),
        |r AS (SELECT source, doc_id, w, u // w AS key,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY u // w, doc_id) AS rank
        |  FROM k)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
        |  CAST(w AS BIGINT) AS w, CAST(key AS BIGINT) AS key
        |FROM r WHERE rank <= 8""".stripMargin,
    // full winner recompute on the post-change corpus — the
    // incremental plan must reproduce it row-for-row
    "q250_incremental_chunk_dedup" ->
      """WITH post AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 5),
        |t AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS ts FROM post),
        |ch AS (SELECT doc_id, p,
        |    array_to_string(ts[p*8+1 : p*8+8], ' ') AS chunk
        |  FROM t, LATERAL unnest(generate_series(0, (len(ts)-1)//8)) AS tp(p))
        |SELECT chunk, doc_id, p FROM ch
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY chunk
        |  ORDER BY doc_id, p) = 1""".stripMargin,
    "q87_chunk_overlap" ->
      """WITH offs AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, length(text) - 1, 192)) AS off
        |  FROM documents)
        |SELECT doc_id, off // 192 AS chunk_id,
        |  substr(text, CAST(off + 1 AS INT), 256) AS chunk,
        |  CAST(length(substr(text, CAST(off + 1 AS INT), 256)) AS BIGINT)
        |    AS n_chunk_chars
        |FROM offs WHERE off < length(text)""".stripMargin,
    "q89_inverted_index" -> invertedIndexSql,
    // the salted build must reproduce the plain build byte-for-byte
    "q89b_inverted_salted" -> invertedIndexSql,
    "q96_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q100_budget_select" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(ROUND(1000.0*len(list_distinct(ts))/len(ts)
        |      *LEAST(1.0, len(ts)/100.0),0) AS BIGINT) AS score,
        |    CAST(len(ts) AS BIGINT) AS toks
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |        FROM documents)),
        |tot AS (SELECT SUM(toks)*6//10 AS b FROM q),
        |c AS (SELECT doc_id, score, toks,
        |  SUM(toks) OVER (ORDER BY score DESC, doc_id ASC
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM q)
        |SELECT doc_id, score, toks FROM c, tot WHERE cum <= b""".stripMargin,
    "q109_dist_drift" ->
      """WITH changed AS (
        |  SELECT doc_id, source, text || ' merge stream merge' AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |fin AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 13 <> 5 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, source, text FROM changed WHERE doc_id % 13 <> 5),
        |h1 AS (
        |  SELECT source, len(string_split_regex(lower(text), '\s+')) // 50 AS b,
        |    COUNT(*) AS n1
        |  FROM documents GROUP BY 1, 2),
        |h2 AS (
        |  SELECT source, len(string_split_regex(lower(text), '\s+')) // 50 AS b,
        |    COUNT(*) AS n2
        |  FROM fin GROUP BY 1, 2),
        |h AS (
        |  SELECT COALESCE(h1.source, h2.source) AS source,
        |    COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
        |  FROM h1 FULL OUTER JOIN h2 ON h1.source = h2.source AND h1.b = h2.b),
        |t AS (
        |  SELECT source, n1, n2,
        |    SUM(n1) OVER (PARTITION BY source) AS t1,
        |    SUM(n2) OVER (PARTITION BY source) AS t2
        |  FROM h)
        |SELECT source, CAST(MAX(t1) AS BIGINT) AS t1, CAST(MAX(t2) AS BIGINT) AS t2,
        |  CAST(CAST(SUM(ABS(n1*t2 - n2*t1)) AS BIGINT) * 1000000
        |    // (MAX(t1) * MAX(t2) * 2) AS BIGINT) AS drift_ppm
        |FROM t GROUP BY source""".stripMargin,
    "q98_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(substr(text, CAST(p AS INT), 40)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM documents,
        |    LATERAL unnest(generate_series(1, len(text)-39, 20)) AS t(p)
        |  WHERE len(text) >= 40),
        |dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |per AS (SELECT doc_id, COUNT(*) AS dups FROM w
        |        WHERE h IN (SELECT h FROM dup) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN len(d.text) >= 40 THEN (len(d.text)-40)//20 + 1
        |       ELSE 0 END AS BIGINT) AS n_windows,
        |  CAST(COALESCE(per.dups, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(CASE WHEN len(d.text) >= 40
        |       THEN COALESCE(per.dups, 0) * 1000000 // ((len(d.text)-40)//20 + 1)
        |       ELSE 0 END AS BIGINT) AS dup_ppm
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,
    "q99_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTP://WWW.' || source || '.Example.COM:80/p/' || (doc_id % 40) ||
        |    CASE (doc_id // 40) % 4 WHEN 0 THEN '/' WHEN 1 THEN '?b=2&a=1&c=3'
        |         WHEN 2 THEN '#frag' ELSE '?a=1&b=2' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, nf,
        |    lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1)),
        |      '^www\.', ''), ':80$', '') AS host,
        |    regexp_replace(
        |      regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
        |      '/+$', '') AS path0,
        |    regexp_extract(nf, '\?(.*)$', 1) AS q
        |  FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u))
        |SELECT scheme || '://' || host ||
        |    CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
        |    CASE WHEN q = '' THEN ''
        |         ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&')
        |    END AS canon_url,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc
        |FROM p GROUP BY 1""".stripMargin,
    "q95_incremental_index" ->
      """WITH final AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 5),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM final),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
        |SELECT term, COUNT(*) AS df,
        |  string_agg(doc_id || ':' || tf, ';' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term""".stripMargin,
    "q93_source_sample" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |    CAST('0x' || substr(md5('sample:' || doc_id), 1, 15) AS BIGINT)
        |      AS h60
        |  FROM documents)
        |SELECT source, doc_id, h60, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY h60, doc_id) AS rn FROM h)
        |WHERE rn <= 5""".stripMargin,
    "q115_cooccurrence" ->
      """WITH d AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ts FROM documents),
        |pr AS (
        |  SELECT LEAST(ts[p], ts[p+k]) AS w1, GREATEST(ts[p], ts[p+k]) AS w2
        |  FROM d,
        |    LATERAL unnest(generate_series(1, len(ts))) AS tp(p),
        |    LATERAL unnest(generate_series(1, 3)) AS tk(k)
        |  WHERE p + k <= len(ts))
        |SELECT w1, w2, COUNT(*) AS n_pairs FROM pr GROUP BY 1, 2""".stripMargin,
    // full recompute over the post-change corpus (delete wins on the
    // update/delete overlap, mirrored by the WHERE before the CASE)
    "q171_incremental_cooccurrence" ->
      """WITH post AS (
        |  SELECT CASE WHEN doc_id % 7 = 3
        |           THEN text || ' merge stream merge' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 5),
        |d AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ts FROM post),
        |pr AS (
        |  SELECT LEAST(ts[p], ts[p+k]) AS w1, GREATEST(ts[p], ts[p+k]) AS w2
        |  FROM d,
        |    LATERAL unnest(generate_series(1, len(ts))) AS tp(p),
        |    LATERAL unnest(generate_series(1, 3)) AS tk(k)
        |  WHERE p + k <= len(ts))
        |SELECT w1, w2, COUNT(*) AS n_pairs FROM pr GROUP BY 1, 2""".stripMargin,
    "q174_trending_terms" ->
      """WITH t AS (
        |  SELECT doc_id % 30 AS day,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, day, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
        |s AS (SELECT term,
        |    CAST(SUM(cnt * (CAST(1 AS BIGINT) << day)) AS BIGINT) AS decayed,
        |    CAST(SUM(cnt) AS BIGINT) AS n_total
        |  FROM c GROUP BY 1)
        |SELECT term, decayed, n_total FROM s
        |ORDER BY decayed DESC, term ASC LIMIT 20""".stripMargin,
    // marginals/total over ALL pairs, support floor on output only;
    // HUGEINT product // BIGINT == Spark DECIMAL(38,0) div
    "q168_collocation_lift" ->
      """WITH d AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ts FROM documents),
        |pr AS (
        |  SELECT LEAST(ts[p], ts[p+k]) AS w1, GREATEST(ts[p], ts[p+k]) AS w2
        |  FROM d,
        |    LATERAL unnest(generate_series(1, len(ts))) AS tp(p),
        |    LATERAL unnest(generate_series(1, 3)) AS tk(k)
        |  WHERE p + k <= len(ts)),
        |ap AS (SELECT w1, w2, COUNT(*) AS n_pairs FROM pr GROUP BY 1, 2),
        |mg AS (SELECT w, CAST(SUM(n_pairs) AS BIGINT) AS m FROM (
        |    SELECT w1 AS w, n_pairs FROM ap
        |    UNION ALL SELECT w2 AS w, n_pairs FROM ap) GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t_pairs FROM ap)
        |SELECT a.w1, a.w2, a.n_pairs,
        |  CAST((CAST(1000000 AS HUGEINT) * t.t_pairs * a.n_pairs)
        |    // (m1.m * m2.m) AS BIGINT) AS lift_ppm
        |FROM ap a
        |JOIN mg m1 ON a.w1 = m1.w
        |JOIN mg m2 ON a.w2 = m2.w
        |CROSS JOIN t
        |WHERE a.n_pairs >= 3""".stripMargin,
    "q150_block_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents),
        |blk AS (SELECT doc_id,
        |    unnest(range(0, len(ts)//5)) AS bi,
        |    unnest([array_to_string(ts[j*5+1:j*5+5], ' ')
        |            for j in range(0, len(ts)//5)]) AS blk
        |  FROM toks WHERE len(ts) >= 5),
        |f AS (SELECT blk, MIN(doc_id*1000000 + bi) AS firstkey
        |  FROM blk GROUP BY blk)
        |SELECT b.doc_id, COUNT(*) AS n_blocks,
        |  CAST(SUM(CASE WHEN b.doc_id*1000000 + b.bi = f.firstkey
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN b.doc_id*1000000 + b.bi = f.firstkey
        |    THEN b.bi ELSE 0 END) AS BIGINT) AS kept_pos_sum
        |FROM blk b JOIN f ON b.blk = f.blk
        |GROUP BY b.doc_id""".stripMargin,
    "q155_bm25_retrieval" ->
      """WITH cb AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS bg
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |        FROM documents),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g(i)
        |  WHERE len(ts) >= 2),
        |qb AS (
        |  SELECT DISTINCT doc_id + 1000000000 AS query_id,
        |    ts[i] || ' ' || ts[i+1] AS bg
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(text || ' eval'), '\s+') AS ts
        |        FROM documents WHERE doc_id % 9 = 4),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g(i)
        |  WHERE len(ts) >= 2),
        |df AS (SELECT bg, COUNT(*) AS df FROM cb GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (SELECT qb.query_id, cb.doc_id,
        |    CAST(SUM((SELECT n FROM n) * 1000 // df.df) AS BIGINT) AS score,
        |    COUNT(*) AS n_shared
        |  FROM qb JOIN df USING (bg) JOIN cb USING (bg)
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score, n_shared, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id ASC) AS INT) AS rank FROM sc)
        |WHERE rank <= 3""".stripMargin,
    "q151_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest([ts[i] for i in range(1, len(ts))]) AS w1,
        |    unnest([ts[i+1] for i in range(1, len(ts))]) AS w2
        |  FROM toks WHERE len(ts) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(c2.c2 * 1000000 // c1.c1) AS BIGINT) AS sum_ppm,
        |  CAST(SUM(c2.c2 * 1000000 // c1.c1) // COUNT(*) AS BIGINT) AS avg_ppm
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id""".stripMargin,
    // held-out split: unseen trigrams exercise every backoff tier
    "q178_trigram_backoff" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
        |u AS (SELECT unnest(ts) AS w FROM tr),
        |cu AS (SELECT w, COUNT(*) AS cu FROM u GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS tt FROM u),
        |bg AS (SELECT
        |    unnest([ts[i] for i in range(1, len(ts))]) AS w1,
        |    unnest([ts[i+1] for i in range(1, len(ts))]) AS w2
        |  FROM tr WHERE len(ts) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |tg AS (SELECT
        |    unnest([ts[i] for i in range(1, len(ts)-1)]) AS w1,
        |    unnest([ts[i+1] for i in range(1, len(ts)-1)]) AS w2,
        |    unnest([ts[i+2] for i in range(1, len(ts)-1)]) AS w3
        |  FROM tr WHERE len(ts) >= 3),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg GROUP BY 1, 2, 3),
        |st AS (SELECT doc_id,
        |    unnest([ts[i] for i in range(1, len(ts)-1)]) AS w1,
        |    unnest([ts[i+1] for i in range(1, len(ts)-1)]) AS w2,
        |    unnest([ts[i+2] for i in range(1, len(ts)-1)]) AS w3
        |  FROM toks WHERE doc_id % 5 = 0 AND len(ts) >= 3),
        |sc AS (SELECT st.doc_id,
        |    CASE WHEN c3.c3 IS NOT NULL THEN 1000000 * c3.c3 // a.c2
        |         WHEN b.c2 IS NOT NULL THEN 400000 * b.c2 // cu2.cu
        |         WHEN cu3.cu IS NOT NULL THEN 160000 * cu3.cu // tt.tt
        |         ELSE 0 END AS s_ppm
        |  FROM st
        |  LEFT JOIN c3 ON c3.w1 = st.w1 AND c3.w2 = st.w2 AND c3.w3 = st.w3
        |  LEFT JOIN c2 a ON a.w1 = st.w1 AND a.w2 = st.w2
        |  LEFT JOIN c2 b ON b.w1 = st.w2 AND b.w2 = st.w3
        |  LEFT JOIN cu cu2 ON cu2.w = st.w2
        |  LEFT JOIN cu cu3 ON cu3.w = st.w3
        |  CROSS JOIN tt)
        |SELECT doc_id, COUNT(*) AS n_tri,
        |  CAST(SUM(s_ppm) AS BIGINT) AS sum_ppm,
        |  CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS avg_ppm
        |FROM sc GROUP BY doc_id""".stripMargin,
    "q194_feature_hash" ->
      """WITH t AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(unnest(string_split_regex(lower(text), '\s+'))), 1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, h % 16 AS dim,
        |  CAST(SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val
        |FROM t GROUP BY 1, 2""".stripMargin,
    "q206_bpe_merge" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(range(1, len(t)+1)) AS i, t
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |top AS (
        |  SELECT t[i] AS ta, t[i+1] AS tb FROM toks WHERE i < len(t)
        |  GROUP BY 1, 2 ORDER BY COUNT(*) DESC, ta, tb LIMIT 1),
        |m AS (
        |  SELECT doc_id, i AS pos FROM toks, top
        |  WHERE i < len(t) AND t[i] = ta AND t[i+1] = tb),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM m),
        |ap AS (
        |  SELECT doc_id,
        |    pos - MIN(pos) OVER (PARTITION BY doc_id, g) AS off
        |  FROM isl),
        |nm AS (SELECT doc_id, COUNT(*) AS n_merges FROM ap
        |       WHERE off % 2 = 0 GROUP BY 1),
        |cnt AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_before FROM documents)
        |SELECT c.doc_id, CAST(n_before AS BIGINT) AS n_before,
        |  CAST(COALESCE(n_merges, 0) AS BIGINT) AS n_merges,
        |  CAST(n_before - COALESCE(n_merges, 0) AS BIGINT) AS n_after
        |FROM cnt c LEFT JOIN nm USING (doc_id)""".stripMargin,
    "q211_dist_match" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) // 10 AS b
        |  FROM documents),
        |src AS (SELECT * FROM d WHERE doc_id % 2 = 0),
        |tgt AS (SELECT * FROM d WHERE doc_id % 2 = 1),
        |c0 AS (SELECT b, COUNT(*) AS cnt0 FROM src GROUP BY 1),
        |c1 AS (SELECT b, COUNT(*) AS cnt1 FROM tgt GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM src) AS tot0,
        |               (SELECT COUNT(*) FROM tgt) AS tot1),
        |th AS (
        |  SELECT c0.b, cnt0,
        |    LEAST(1000000, COALESCE(cnt1, 0) * tot0 * 1000000 // (cnt0 * tot1))
        |      AS thresh_ppm
        |  FROM c0 LEFT JOIN c1 ON c0.b = c1.b, tot),
        |kept AS (
        |  SELECT s.b, COUNT(*) AS n_kept
        |  FROM src s JOIN th ON s.b = th.b
        |  WHERE CAST('0x' || substr(md5('dm:' || CAST(s.doc_id AS VARCHAR)), 1, 15)
        |          AS BIGINT) % 1000000 < thresh_ppm
        |  GROUP BY 1)
        |SELECT th.b AS bucket, CAST(cnt0 AS BIGINT) AS n_src,
        |  CAST(thresh_ppm AS BIGINT) AS thresh_ppm,
        |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
        |FROM th LEFT JOIN kept ON th.b = kept.b""".stripMargin,
    // independent formulation: cumulative-sum windows over the bucket
    // axis (the Spark side folds one collected sorted array instead)
    "q213_ks_stat" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) // 5 AS b
        |  FROM documents),
        |cnt AS (
        |  SELECT b,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
        |    SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM d GROUP BY 1),
        |tot AS (SELECT SUM(c0) AS tot0, SUM(c1) AS tot1 FROM cnt),
        |cum AS (
        |  SELECT SUM(c0) OVER (ORDER BY b) AS cum0,
        |         SUM(c1) OVER (ORDER BY b) AS cum1
        |  FROM cnt)
        |SELECT CAST(MAX(abs(cum0*tot1 - cum1*tot0)) AS BIGINT) AS ks_num,
        |  CAST(tot0 AS BIGINT) AS tot0, CAST(tot1 AS BIGINT) AS tot1
        |FROM cum, tot GROUP BY tot0, tot1""".stripMargin,
    "q214_simpson" ->
      """WITH c AS (
        |  SELECT user_id, (event_id*17 % 320000) // 4000 AS cx,
        |    (event_id*23 % 150000) // 4000 AS cy, COUNT(*) AS ni
        |  FROM events GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT user_id, SUM(ni) AS n, SUM(ni*(ni-1)) AS num
        |  FROM c GROUP BY 1)
        |SELECT user_id, CAST(num AS BIGINT) AS num,
        |  CAST(n*(n-1) AS BIGINT) AS den,
        |  CAST(num * 1000000 // (n*(n-1)) AS BIGINT) AS simpson_ppm
        |FROM g WHERE n >= 2""".stripMargin,
    "q217_cms_freq" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |counters AS (
        |  SELECT j, CAST('0x' || substr(md5('cms' || j || ':' || term),1,15)
        |      AS BIGINT) % 256 AS bkt, COUNT(*) AS cnt
        |  FROM toks CROSS JOIN range(0, 4) t(j) GROUP BY 1, 2),
        |ex AS (
        |  SELECT term, COUNT(*) AS exact FROM toks GROUP BY 1
        |  ORDER BY exact DESC, term LIMIT 50),
        |probes AS (
        |  SELECT term, exact, j,
        |    CAST('0x' || substr(md5('cms' || j || ':' || term),1,15)
        |      AS BIGINT) % 256 AS bkt
        |  FROM ex CROSS JOIN range(0, 4) t(j))
        |SELECT p.term, p.exact, MIN(c.cnt) AS est,
        |  (MIN(c.cnt) - p.exact) * 10000 // p.exact AS over_bp
        |FROM probes p JOIN counters c ON p.j = c.j AND p.bkt = c.bkt
        |GROUP BY p.term, p.exact""".stripMargin,
    "q219_vocab_growth" ->
      """WITH m AS (SELECT MAX(doc_id) AS m FROM documents),
        |d AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts,
        |    doc_id * 128 // (m.m + 1) AS bkt
        |  FROM documents CROSS JOIN m),
        |tok AS (SELECT bkt, CAST(SUM(len(ts)) AS BIGINT) AS toks
        |        FROM d GROUP BY 1),
        |firsts AS (
        |  SELECT MIN(bkt) AS bkt
        |  FROM (SELECT bkt, unnest(ts) AS term FROM d) GROUP BY term),
        |newt AS (SELECT bkt, COUNT(*) AS newt FROM firsts GROUP BY 1),
        |series AS (
        |  SELECT t.bkt, t.toks, COALESCE(n.newt, 0) AS newt
        |  FROM tok t LEFT JOIN newt n ON t.bkt = n.bkt)
        |SELECT bkt, CAST(SUM(toks) OVER (ORDER BY bkt) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(newt) OVER (ORDER BY bkt) AS BIGINT) AS cum_vocab
        |FROM series""".stripMargin,
    "q222_rrf_fusion" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |cb AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS g
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |        FROM documents),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g1(i)
        |  WHERE len(ts) >= 2),
        |qb AS (
        |  SELECT DISTINCT doc_id + 1000000000 AS query_id,
        |    ts[i] || ' ' || ts[i+1] AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(text || ' eval'), '\s+') AS ts
        |        FROM documents WHERE doc_id % 9 = 4),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g2(i)
        |  WHERE len(ts) >= 2),
        |cu AS (SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS g
        |  FROM documents),
        |qu AS (SELECT DISTINCT doc_id + 1000000000 AS query_id,
        |    unnest(string_split_regex(lower(text || ' eval'), '\s+')) AS g
        |  FROM documents WHERE doc_id % 9 = 4),
        |dfa AS (SELECT g, COUNT(*) AS df FROM cb GROUP BY 1),
        |dfb AS (SELECT g, COUNT(*) AS df FROM cu GROUP BY 1),
        |sa AS (SELECT qb.query_id, cb.doc_id,
        |    SUM((SELECT n FROM n) * 1000 // dfa.df) AS score
        |  FROM qb JOIN dfa USING (g) JOIN cb USING (g) GROUP BY 1, 2),
        |ra AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank_a
        |  FROM sa),
        |sb AS (SELECT qu.query_id, cu.doc_id,
        |    SUM((SELECT n FROM n) * 1000 // dfb.df) AS score
        |  FROM qu JOIN dfb USING (g) JOIN cu USING (g) GROUP BY 1, 2),
        |rb AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank_b
        |  FROM sb),
        |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
        |    COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    COALESCE(1000000 // (60 + a.rank_a), 0)
        |      + COALESCE(1000000 // (60 + b.rank_b), 0) AS rrf
        |  FROM (SELECT * FROM ra WHERE rank_a <= 10) a
        |  FULL OUTER JOIN (SELECT * FROM rb WHERE rank_b <= 10) b
        |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id)
        |SELECT query_id, doc_id, CAST(rrf AS BIGINT) AS rrf,
        |  CAST(frank AS BIGINT) AS frank
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY rrf DESC, doc_id) AS frank FROM f)
        |WHERE frank <= 5""".stripMargin,
    "q224_hll_cardinality" ->
      """WITH bg AS (
        |  SELECT ts[i] || ' ' || ts[i+1] AS bg
        |  FROM (SELECT string_split_regex(lower(text), '\s+') AS ts
        |        FROM documents),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g(i)
        |  WHERE len(ts) >= 2),
        |h AS (SELECT bg,
        |    CAST('0x' || substr(md5('hll:' || bg), 1, 15) AS BIGINT) AS h
        |  FROM bg),
        |rr AS (SELECT h % 64 AS j, h // 64 AS rest FROM h),
        |r2 AS (SELECT j, CASE WHEN rest = 0 THEN 55
        |         ELSE 55 - length(bin(rest)) END AS r FROM rr),
        |regs AS (SELECT j, LEAST(MAX(r), 30) AS rc FROM r2 GROUP BY 1),
        |ns AS (SELECT CAST(SUM(CAST(pow(2, 30 - rc) AS BIGINT)) AS BIGINT)
        |    AS n_sum, CAST(COUNT(*) AS BIGINT) AS m_used FROM regs),
        |ex AS (SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS exact FROM h)
        |SELECT m_used, n_sum, exact,
        |  CAST(709213 * (4398046511104 // n_sum) // 1000000 AS BIGINT)
        |    AS est,
        |  CAST((709213 * (4398046511104 // n_sum) // 1000000 - exact)
        |    * 10000 // exact AS BIGINT) AS err_bp
        |FROM ns, ex""".stripMargin,
    // exact recount on the post-change corpus with q84's predicate:
    // the IVM result must equal the one-shot recompute
    "q226_incremental_heavy_hitters" ->
      """WITH post AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 5),
        |toks AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM post),
        |tot AS (SELECT COUNT(*) AS total FROM toks)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM toks GROUP BY term
        |HAVING COUNT(*) * 200 > (SELECT total FROM tot)""".stripMargin,
    "q229_token_gini" ->
      """WITH tc AS (
        |  SELECT doc_id, term, COUNT(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |g AS (SELECT doc_id, SUM(c) AS n, SUM(c*c) AS sumsq,
        |        COUNT(*) AS n_distinct
        |      FROM tc GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST((n*n - sumsq) * 1000000 // (n*n) AS BIGINT) AS gini_ppm
        |FROM g""".stripMargin,
    "q230_mmr_diversify" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |cb AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS g
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |        FROM documents),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g1(i)
        |  WHERE len(ts) >= 2),
        |qb AS (
        |  SELECT DISTINCT doc_id + 1000000000 AS query_id,
        |    ts[i] || ' ' || ts[i+1] AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(text || ' eval'), '\s+') AS ts
        |        FROM documents WHERE doc_id % 9 = 4),
        |    LATERAL unnest(generate_series(1, len(ts) - 1)) AS g2(i)
        |  WHERE len(ts) >= 2),
        |dfr AS (SELECT g, COUNT(*) AS df FROM cb GROUP BY 1),
        |sc AS (SELECT qb.query_id, cb.doc_id,
        |    SUM((SELECT n FROM n) * 1000 // dfr.df) AS score
        |  FROM qb JOIN dfr USING (g) JOIN cb USING (g) GROUP BY 1, 2),
        |cand AS (SELECT query_id, doc_id, (11 - rank) * 1000000 AS rel
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY score DESC, doc_id) AS rank FROM sc)
        |  WHERE rank <= 10),
        |cbg AS (SELECT c.query_id, c.doc_id, b.g
        |  FROM (SELECT DISTINCT query_id, doc_id FROM cand) c
        |  JOIN cb b USING (doc_id)),
        |sz AS (SELECT query_id, doc_id, COUNT(*) AS nset
        |       FROM cbg GROUP BY 1, 2),
        |inter AS (SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
        |    COUNT(*) AS ni
        |  FROM cbg a JOIN cbg b ON a.query_id = b.query_id AND a.g = b.g
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2, 3),
        |sim AS (SELECT i.query_id, i.da, i.db,
        |    ni * 1000000 // (sa.nset + sb.nset - ni) AS sim_ppm
        |  FROM inter i
        |  JOIN sz sa ON sa.query_id = i.query_id AND sa.doc_id = i.da
        |  JOIN sz sb ON sb.query_id = i.query_id AND sb.doc_id = i.db),
        |p1 AS (SELECT query_id, doc_id AS d1, rel AS s1 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id) AS rn FROM cand) WHERE rn = 1),
        |r2 AS (SELECT c.query_id, c.doc_id,
        |    c.rel - COALESCE(s.sim_ppm, 0) AS mmr
        |  FROM cand c JOIN p1 ON c.query_id = p1.query_id
        |  LEFT JOIN sim s ON s.query_id = c.query_id AND s.da = c.doc_id
        |    AND s.db = p1.d1
        |  WHERE c.doc_id <> p1.d1),
        |p2 AS (SELECT query_id, doc_id AS d2, mmr AS s2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, doc_id) AS rn FROM r2) WHERE rn = 1),
        |r3 AS (SELECT c.query_id, c.doc_id,
        |    c.rel - GREATEST(COALESCE(x.sim_ppm, 0), COALESCE(y.sim_ppm, 0))
        |      AS mmr
        |  FROM cand c
        |  JOIN p1 ON c.query_id = p1.query_id
        |  JOIN p2 ON c.query_id = p2.query_id
        |  LEFT JOIN sim x ON x.query_id = c.query_id AND x.da = c.doc_id
        |    AND x.db = p1.d1
        |  LEFT JOIN sim y ON y.query_id = c.query_id AND y.da = c.doc_id
        |    AND y.db = p2.d2
        |  WHERE c.doc_id <> p1.d1 AND c.doc_id <> p2.d2),
        |p3 AS (SELECT query_id, doc_id AS d3, mmr AS s3 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, doc_id) AS rn FROM r3) WHERE rn = 1)
        |SELECT query_id, CAST(1 AS BIGINT) AS pick, d1 AS doc_id,
        |  CAST(s1 AS BIGINT) AS mmr2 FROM p1
        |UNION ALL SELECT query_id, CAST(2 AS BIGINT), d2,
        |  CAST(s2 AS BIGINT) FROM p2
        |UNION ALL SELECT query_id, CAST(3 AS BIGINT), d3,
        |  CAST(s3 AS BIGINT) FROM p3""".stripMargin,
    // identical integer weight/prior/argmax arithmetic; the marker
    // plant rides in the corpus derivation both engines share
    "q266_nb_classifier" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    text || repeat(' xm' || lang, 10) AS t2 FROM documents),
        |toks AS (SELECT doc_id, lang, unnest(string_split(t2, ' ')) AS w
        |  FROM base),
        |tr AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
        |cnt AS (SELECT lang AS c, w, COUNT(*) AS cw FROM tr GROUP BY 1, 2),
        |totc AS (SELECT lang AS c, COUNT(*) AS tc FROM tr GROUP BY 1),
        |vocab AS (SELECT DISTINCT w FROM tr),
        |vs AS (SELECT COUNT(*) AS vs FROM vocab),
        |wt AS (
        |  SELECT v.w, t.c,
        |    1000000 * (COALESCE(cw, 0) + 1) // (tc + vs) AS wt
        |  FROM vocab v CROSS JOIN totc t
        |  LEFT JOIN cnt ON cnt.c = t.c AND cnt.w = v.w, vs),
        |dpc AS (SELECT lang AS c, COUNT(*) AS nc FROM base
        |        WHERE doc_id % 5 <> 0 GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS nt FROM base WHERE doc_id % 5 <> 0),
        |prior AS (SELECT c, 1000000 * nc // nt AS prior FROM dpc, nt),
        |sc AS (
        |  SELECT te.doc_id, te.lang AS actual, wt.c, SUM(wt.wt) AS sw
        |  FROM (SELECT * FROM toks WHERE doc_id % 5 = 0) te
        |  JOIN wt ON wt.w = te.w GROUP BY 1, 2, 3),
        |pick AS (
        |  SELECT doc_id, actual, c AS predicted,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY sw + prior DESC, c ASC) AS rn
        |  FROM sc JOIN prior USING (c))
        |SELECT actual, predicted, COUNT(*) AS n_docs
        |FROM pick WHERE rn = 1 GROUP BY 1, 2""".stripMargin,
    // three chained q206 rounds; wn/mm/tk MATERIALIZED (each is
    // referenced 2-3 times — plain CTEs inline exponentially across
    // rounds, the q191 lesson)
    "q267_bpe_train" -> {
      val rounds = (1 to 3).map { r =>
        s"""wn$r AS MATERIALIZED (
           |  SELECT doc_id, pos, tok,
           |    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           |  FROM tk$r),
           |top$r AS MATERIALIZED (
           |  SELECT tok AS ta, nxt AS tb, COUNT(*) AS c FROM wn$r
           |  WHERE nxt IS NOT NULL
           |  GROUP BY 1, 2 ORDER BY c DESC, ta, tb LIMIT 1),
           |mm$r AS MATERIALIZED (
           |  SELECT doc_id, pos FROM (
           |    SELECT doc_id, pos,
           |      pos - MIN(pos) OVER (PARTITION BY doc_id, g) AS off
           |    FROM (
           |      SELECT m.doc_id, m.pos,
           |        m.pos - ROW_NUMBER() OVER (PARTITION BY m.doc_id
           |          ORDER BY m.pos) AS g
           |      FROM (SELECT w.doc_id, w.pos FROM wn$r w, top$r
           |            WHERE w.tok = ta AND w.nxt = tb) m))
           |  WHERE off % 2 = 0),
           |tk${r + 1} AS MATERIALIZED (
           |  SELECT doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY opos) AS pos,
           |    tok
           |  FROM (
           |    SELECT w.doc_id, w.pos AS opos,
           |      CASE WHEN mk.pos IS NOT NULL THEN w.tok || w.nxt
           |           ELSE w.tok END AS tok
           |    FROM wn$r w
           |    LEFT JOIN mm$r mk ON mk.doc_id = w.doc_id AND mk.pos = w.pos
           |    LEFT JOIN mm$r dr ON dr.doc_id = w.doc_id AND dr.pos + 1 = w.pos
           |    WHERE dr.pos IS NULL)),
           |row$r AS (
           |  SELECT CAST($r AS BIGINT) AS merge_round, ta, tb,
           |    CAST(c AS BIGINT) AS pair_count,
           |    (SELECT COUNT(*) FROM tk${r + 1}) AS total_tokens_after
           |  FROM top$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH tk1 AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, t[i] AS tok FROM (
         |    SELECT doc_id, UNNEST(range(1, len(t)+1)) AS i, t
         |    FROM (SELECT doc_id, string_split(text, ' ') AS t
         |          FROM documents))),
         |$rounds
         |SELECT merge_round, ta, tb, pair_count,
         |  CAST(total_tokens_after AS BIGINT) AS total_tokens_after
         |FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row2
         |      UNION ALL SELECT * FROM row3)""".stripMargin
    },
    // full CMS recompute on the post-change corpus — the additive
    // delta plan must land on the identical counter matrix
    "q270_incremental_cms" ->
      """WITH upd AS (
        |  SELECT doc_id, text || ' merge stream merge' AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |post AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 13 <> 5 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, text FROM upd WHERE doc_id % 13 <> 5),
        |toks AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM post)
        |SELECT j,
        |  CAST('0x' || substr(md5('cms' || j || ':' || term),1,15)
        |    AS BIGINT) % 256 AS bkt,
        |  COUNT(*) AS cnt
        |FROM toks CROSS JOIN range(0, 4) t(j) GROUP BY 1, 2""".stripMargin,
  )

  private lazy val invertedIndexSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
      |SELECT term, COUNT(*) AS df,
      |  string_agg(doc_id || ':' || tf, ';' ORDER BY doc_id) AS postings
      |FROM tf GROUP BY term""".stripMargin
}
