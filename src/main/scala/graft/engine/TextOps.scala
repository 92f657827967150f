package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data text operators (dedup family, language ID, quality
  * scoring, fingerprinting) — large-scale pipeline extensions over the
  * `documents` table. Everything is built from codegen'd built-ins; the
  * only hash shared with the DuckDB oracle is md5 (both engines implement
  * RFC 1321), truncated to 60 bits so values stay positive in BIGINT.
  */
object TextOps {
  val JaccardThreshold = 0.8
  /** Min-hash bucket size cap: a key shared by more than this many docs is
    * boilerplate (e.g. a fixed header shingled into every page), not a
    * near-dup signal, and would make the candidate pairs quadratic in that
    * bucket at 100 TB. Oversized buckets are EXCLUDED from candidate
    * generation (documented overflow: exact duplicates are the exact-dedup
    * op's job, q30). The oracle SQL reproduces the same cap. */
  val BandBucketCap = 50

  /** Whitespace tokens, empties dropped (trim + split — the exact same
    * semantics as the oracle's string_split_regex); built-ins only, so a
    * projection that tokenizes stays whole-stage codegen'd. */
  def tokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), "")

  /** 3-word shingles, 1-based positions i=1..n-2 (mirrors the oracle's
    * list_transform(range(...)) form). Caller guards size >= 3. */
  def shingles3(words: Column): Column =
    transform(sequence(lit(1), size(words) - 2), i =>
      concat_ws(" ", element_at(words, i), element_at(words, i + 1), element_at(words, i + 2)))

  /** 60-bit md5 hash — identical to DuckDB `CAST('0x'||substring(md5(s),1,15) AS BIGINT)`.
    * Computed by the md5_prefix60 function ([[graft.sql.GraftKernels]]) straight from the
    * digest bytes: the md5→hex-string→substring→base-16-parse chain this
    * replaces allocated three strings per shingle in the dedup family's
    * innermost loop (same 60-bit value — the first 15 hex chars of the
    * digest are its top 60 bits). */
  def hash60(s: Column): Column = graft.sql.functions.md5_prefix60(s)

  /** (doc_id, sh) distinct 3-shingles per doc. */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = tokens(col(textCol))
    docs.select(col(idCol), w.as("_w"))
      .where(size(col("_w")) >= 3)
      .select(col(idCol), explode(array_distinct(shingles3(col("_w")))).as("sh"))
  }

  /** The min-hash key of a document is the minimum over its distinct
    * shingles of `hash60(sh) & AffineMask`.
    *
    * The oracle ([[graft.OracleSql.minhashLshParts]]) states the same key
    * as 16 affine hashes `h_i = (h & AffineMask)·(2i+1) + i` banded 4 × 4.
    * Each h_i is strictly monotone in `h & AffineMask`, so every band key
    * collides exactly when this one key does, and grouping by it yields
    * the oracle's candidate set. With one hash, a pair becomes a candidate
    * with probability ≈ its shingle Jaccard (Broder 1997). */
  val AffineMask = 0x1FFFFFFFFFFFL
  private[engine] def maskedHash60(sh: Column): Column =
    hash60(sh).bitwiseAND(lit(AffineMask))
  /** The oracle's i-th affine hash in SQL (odd multiplier; stays < 2^62,
    * so no BIGINT overflow in DuckDB). */
  def affineHashSql(h: String, i: Int): String =
    s"(($h & $AffineMask) * ${2L * i + 1} + $i)"

  /** Min-hash candidate pairs (doc_a, doc_b), doc_a < doc_b, of a
    * shingle-set DataFrame: docs sharing one min-hash key
    * ([[AffineMask]]) pair up, and a key shared by more than `bucketCap`
    * docs is dropped ([[BandBucketCap]]).
    *
    * ONE aggregation pass per key gathers the member list with
    * [[graft.sql.CollectCapped]], whose buffer stops growing at cap+1
    * elements — so the frequency guard and the member collection are the
    * same pass, a degenerate hot bucket (boilerplate shared by 10⁹ docs at
    * 100 TB) costs O(cap) memory and comes back NULL, and in-bucket pairs
    * fall out of a bounded array expansion (≤ cap(cap-1)/2 per bucket)
    * instead of a self-join. Each doc sits in one bucket and member lists
    * are sorted, so slice-after-self yields each pair exactly once. */
  def lshCandidates(sh: DataFrame, idCol: String,
                    bucketCap: Int = BandBucketCap): DataFrame =
    sh.groupBy(col(idCol)).agg(min(maskedHash60(col("sh"))).as("_m"))
      .groupBy("_m")
      .agg(graft.sql.functions.collect_capped(col(idCol), bucketCap).as("ids"))
      .where(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("_i", "doc_a")), col("ids"))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("_i") + lit(2), lit(bucketCap))).as("doc_b"))

  /** Exact 3-shingle Jaccard of (doc_a, doc_b) pairs over the shingle set
    * `sh`: `withInter` turns the shared-shingle counts of the pairs that
    * share one into the rows to score, which are then joined to both
    * docs' shingle counts. Output: (doc_a, doc_b, inter, n_a, n_b, jaccard). */
  private def exactJaccard(sh: DataFrame, idCol: String, pairs: DataFrame)(
      withInter: DataFrame => DataFrame): DataFrame = {
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("x"), col("doc_a") === col(s"x.$idCol"))
      .join(sh.as("y"), col("doc_b") === col(s"y.$idCol") && col("y.sh") === col("x.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    withInter(inter)
      .join(cnt.select(col(idCol).as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(cnt.select(col(idCol).as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
  }

  /** Near-duplicate pairs: min-hash candidates ([[lshCandidates]]: one
    * min-hash key with a bucket cap, no O(n²) compare), then exact
    * 3-shingle Jaccard keeps the pairs at or above `threshold`. Precision
    * is 1 by construction; recall is one hash's (≈ the pair's Jaccard).
    * Output: (doc_a, doc_b, inter, n_a, n_b, jaccard). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = JaccardThreshold,
                      bucketCap: Int = BandBucketCap): DataFrame = {
    // DISK_ONLY, not MEMORY_AND_DISK: the exploded (doc, shingle) set is
    // ~n_tokens rows per doc (≈10× the corpus in row count, comparable in
    // bytes) and is consumed 3× (min-hash keys, counts, intersection). At
    // 100 TB of documents the shingle set is another ~100 TB — memory
    // caching would evict/thrash every executor; serialized disk blocks
    // cost one local write + three sequential local reads, no recompute
    // of the explode, and zero executor-memory pressure. A lazy local
    // checkpoint, not a persist: the blocks live as long as the returned
    // plan and leave no CacheManager entry behind.
    val sh = shingleSet(docs, idCol, textCol)
      .localCheckpoint(eager = false, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    exactJaccard(sh, idCol, lshCandidates(sh, idCol, bucketCap))(identity)
      .where(col("jaccard") >= threshold)
  }

  /** Near-dup CLUSTER RESOLUTION: connected components over candidate
    * pairs → (doc_id, cluster_rep), cluster_rep = the component's MINIMUM
    * doc id (deterministic representative — "keep one doc per cluster"
    * keeps the rep). This is the step that turns [[minhashLshPairs]] /
    * [[AnnOps.blockedNearDup]] PAIR sets into an actionable dedup verdict.
    *
    * Algorithm: alternating large-star / small-star (the MapReduce
    * connected-components construction), O(log n) rounds on any graph —
    * not min-label flooding, whose round count is the component DIAMETER
    * (a 10⁶-doc boilerplate chain at 100 TB would flood for 10⁶ rounds).
    * Each round is two shuffle joins; per-node neighbor mins come from a
    * groupBy-min JOINED back (never collect_list — a hot node's neighbor
    * set stays distributed). The driver carries only a convergence
    * signature (count + order-insensitive hash sum); each round's edge set
    * is localCheckpoint'ed to truncate lineage, the standard iterative-
    * algorithm posture.
    *
    * Input: (doc_a, doc_b) candidate pairs, any orientation, dups fine.
    * Output: one row per distinct doc id appearing in `pairs`
    * (singletons never enter the pair set; their rep is trivially
    * themselves — left-join the corpus against this result downstream). */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    // edges oriented big → small (u > v), self-loops dropped
    var e = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
              least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var prevSig = (-1L, -1L)
    var converged = e.isEmpty
    var rounds = 0
    // each round's shuffles run under the session's configuration: AQE
    // coalesces their post-shuffle partitions from the round's edge-set
    // size, so the converged tail of a small graph does not pay a full
    // task wave per stage
    while (!converged && rounds < 64) {
      // LARGE-STAR: for every node u (adjacency in BOTH directions),
      // m = min(N(u) ∪ {u}); link every LARGER neighbor to m.
      val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = adj.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = adj.join(minsL, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(e) // keep existing big→small links for small-star to fold
        .distinct()
      // SMALL-STAR: edges already point big → small; for every u,
      // m = min of its smaller neighbors; link them (and u) to m.
      val minsS = ls.groupBy("u").agg(min("v").as("m"))
      val folded = ls.join(minsS, "u")
      val ss = folded.select(col("v").as("u"), col("m").as("v"))
        .union(folded.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
      val next = ss.localCheckpoint(true)
      val sigRow = next.agg(
        count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      converged = sig == prevSig
      prevSig = sig
      e = next
      rounds += 1
    }
    // converged edge set is a star forest: (member, component-min)
    val members = e.select(col("u").as("doc_id"), col("v").as("cluster_rep"))
    val roots = e.select(col("v").as("doc_id")).distinct()
      .join(members.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("cluster_rep", col("doc_id"))
    members.union(roots)
  }

  /** End of the near-dup pipeline: KEEP one document per cluster. Drops
    * every doc that belongs to a pair-cluster and is not its (min-id)
    * representative; docs in no pair are kept untouched. The drop set is
    * tiny relative to the corpus (only clustered non-reps), so the
    * anti-join broadcasts under AQE at any corpus scale. */
  def dedupKeepRepresentatives(docs: DataFrame, idCol: String,
                               pairs: DataFrame): DataFrame = {
    val drop = dedupClusters(pairs)
      .where(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** 60-bit SimHash over the distinct unigram token set. PER-ROW: the
    * distinct-token hash array feeds 60 bounded array folds — a map-only
    * stage, where the r5 shape exploded ~n_tokens rows per doc into a
    * 60-aggregate groupBy shuffle (guide §2.4: the aggregation was never
    * fundamentally required — each doc's vote vector depends only on its
    * own row). Vote values are identical: a sum over a set is a fold over
    * the array of the same set. Docs with no tokens vanish exactly as the
    * explode dropped them. */
  def simhash60(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withH = docs.select(col(idCol),
        transform(array_distinct(tokens(col(textCol))), t => hash60(t)).as("_h"))
      .where(size(col("_h")) >= 1)
    val votes = (0 until 60).map(i =>
      aggregate(col("_h"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    val bits = (0 until 60).map(i =>
      when(votes(i) > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    withH.select(col(idCol), bits.as("simhash"))
  }

  /** Stopword-marker language ID (n-gram-free heuristic): count per-language
    * marker tokens, argmax with fixed priority order, 'und' when no marker. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"), "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "la", "les"), "es" -> Seq("el", "los", "las"))

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // PER-ROW marker counts (size of the filtered token array) — map-only,
    // no explode + groupBy shuffle (guide §2.4); counts are identical
    // integers, cast to the same BIGINT the sum() aggregate produced, and
    // token-less docs vanish exactly as the explode dropped them
    val withT = docs.select(col(idCol), tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) >= 1)
    val counted = langMarkers.foldLeft(withT) { case (df, (lang, ms)) =>
      df.withColumn(s"c_$lang",
        size(filter(col("_t"), t => t.isin(ms: _*))).cast("bigint"))
    }
    val langs = langMarkers.map(_._1)
    val pred = langs.foldRight(lit("und"): Column) { (lang, els) =>
      val c = col(s"c_$lang")
      val beats = langs.filter(_ != lang).map(o => c >= col(s"c_$o")).reduce(_ && _)
      when(c > 0 && beats, lit(lang)).otherwise(els)
    }
    counted.select(col(idCol) +: pred.as("pred_lang") +: langs.map(l => col(s"c_$l")): _*)
  }

  /** Stopword list for the quality signal: the union of the language-ID
    * marker sets — deterministic and mirrored verbatim in the oracle. */
  val stopwords: Seq[String] = langMarkers.flatMap(_._2)

  /** Quality metrics: token count, distinct count, type-token ratio,
    * mean token length, stopword ratio (stopword tokens / tokens — too
    * LOW marks keyword-stuffed or non-linguistic text), punctuation ratio
    * (non-alphanumeric-non-space chars / chars — too HIGH marks markup or
    * table debris). All pure column aggregations — one shuffle on the
    * doc id, no UDFs. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // PER-ROW over the token array — map-only. The r5 shape exploded every
    // token into a groupBy with a countDistinct, which Spark plans as TWO
    // aggregation exchanges (distinct expansion + final); per-row
    // array_distinct needs neither (guide §2.4). All counts are the same
    // integers (a count over a group == the size of the array that made
    // the group), divisions widen to double identically, and token-less
    // docs vanish exactly as the explode dropped them.
    val withT = docs
      .withColumn("_punct",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "[^a-z0-9 ]", ""))).cast("double") /
        length(col(textCol)))
      .select(col(idCol), col("_punct"), tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) >= 1)
    val nTok = size(col("_t")).cast("bigint")
    val nDis = size(array_distinct(col("_t"))).cast("bigint")
    val sumLen = aggregate(col("_t"), lit(0L), (acc, t) => acc + length(t))
    val nStop = size(filter(col("_t"), t => t.isin(stopwords: _*))).cast("bigint")
    withT.select(col(idCol),
      nTok.as("n_tokens"),
      nDis.as("n_distinct"),
      (nDis.cast("double") / nTok).as("ttr"),
      (sumLen.cast("double") / nTok).as("avg_token_len"),
      (nStop.cast("double") / nTok).as("stopword_ratio"),
      col("_punct").as("punct_ratio"))
  }

  /** Document fingerprint: 60-bit hash of the canonical (sorted distinct)
    * token sequence — an order-insensitive exact-dedup key. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      hash60(array_join(sort_array(array_distinct(tokens(col(textCol)))), " ")).as("fp"))

  /** Exact n-gram (3-shingle) jaccard for given candidate pairs — the
    * standalone n-gram-Jaccard dedup op (minhashLshPairs runs the same
    * [[exactJaccard]] on its min-hash candidates). Pairs that share no
    * shingle score 0.
    *
    * `prefilterDocs`: semi-join `docs` to the pair set's doc ids BEFORE
    * shingling (guide §3.2 — reduce the big side early). Only docs that
    * appear in `pairs` contribute to any output column, so results are
    * identical either way. Turn it on when the pair set is a small
    * fraction of the corpus (e.g. q67's streamed candidates); leave it off
    * when pairs span the corpus (e.g. q43's consecutive-id pairs), where
    * the two extra evaluations of the `pairs` subtree cost more than the
    * pruning saves. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame /* (doc_a, doc_b) */,
                   prefilterDocs: Boolean = false): DataFrame = {
    val pruned =
      if (!prefilterDocs) docs
      else docs.join(
        pairs.select(col("doc_a").as(idCol))
          .unionAll(pairs.select(col("doc_b").as(idCol)))
          .distinct(),
        Seq(idCol), "left_semi")
    exactJaccard(shingleSet(pruned, idCol, textCol), idCol, pairs)(inter =>
      pairs.join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("inter")))
  }

  /** BPE-ish regex token count: letter runs, digit runs, and single
    * non-space symbols — the subword-style pre-tokenizer count. */
  def bpeishTokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("bigint").as("n_bpeish"))
}
