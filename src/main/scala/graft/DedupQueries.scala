package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{documents, embeddings, pin, spread}
import graft.expressions.{Md5Prefix60, MinHashSig, QCosine, SortedOverlap}
import graft.functions.Similarity._

/** Deduplication family over `documents` / `embeddings` — the core
  * LLM-training-data operators:
  *
  *   - d50 exact dedup        (content-hash groupBy)
  *   - d51 MinHash + LSH      (shingle -> K minhashes -> band -> band-join
  *                             -> exact-Jaccard verify)
  *   - d52 SimHash            (per-token md5 votes -> 16-bit fingerprint)
  *   - d53 blocked n-gram Jaccard (length bucket × MinHash band -> verify)
  *   - d54 embedding near-dup (quantized-integer cosine, threshold pairs)
  *   - d57 containment detection (rare-shingle blocking, |A∩B|/|A|)
  *   - d58 composed-key blocked Jaccard (length × band × lang blocking)
  *
  * Scale analysis (the reason these shapes were chosen):
  * d51/d53 never enumerate all pairs — candidates come from equality joins
  * on band keys / blocks, so the shuffle is O(docs x bands) + O(candidate
  * pairs). d54's all-pairs form is the correctness baseline for the
  * LSH-bucketed ANN in SimilarityQueries (the 100 TB path). Everything is
  * md5-deterministic: a DuckDB oracle replays the full pipeline exactly,
  * including which candidate pairs the banding produces.
  */
object DedupQueries {

  // private[graft]: DedupSpec replays the signature/banding in plain
  // Scala to pin the candidate formula independent of Spark and DuckDB.
  private[graft] val K = 12      // minhash functions
  private[graft] val BANDS = 6   // bands of 2 rows each => s-curve threshold ~0.6
  private[graft] val P = 4294967311L // prime > 2^32 for the universal-hash family

  // ---- DuckDB replay of the MinHash signature + banding ------------------
  // The exact SQL spelling of MinHashSig (ArrayKernels.scala:167) and
  // bandKey (Similarity.scala:43), shared by the d51 oracle and
  // duckBigramPairsSql so both twins replay the same universal-hash
  // family digit-for-digit: h is the 8-hex-digit (32-bit) md5 prefix,
  // s_i = MIN((h*(2i+1) + (1000003*i + 12345)) % P), band key b =
  // md5("s_{2b}|s_{2b+1}").
  private def duckSigCols: String = (0 until K).map(i =>
    s"MIN((h * ${2 * i + 1} + ${1000003L * i + 12345L}) % $P) AS s$i").mkString(", ")
  private def duckBandIds: String = (0 until BANDS).mkString("[", ", ", "]")
  private def duckBandKeys: String = (0 until BANDS)
    .map(b => s"md5(CAST(s${2 * b} AS VARCHAR) || '|' || CAST(s${2 * b + 1} AS VARCHAR))")
    .mkString("[", ", ", "]")

  /** Verify-stage attach: joins each side's sorted hashed shingle set
    * onto the candidate pairs WITHOUT broadcasting a corpus-derived
    * frame. `arr` (one `(doc_id, sh)` row per corpus doc) is first
    * restricted by a semi join to docs that actually appear in a
    * candidate pair — bounded by what banding / blocking produced, not
    * by the corpus — and the joins carry NO hint, so AQE broadcasts the
    * restricted side only when it measures small at runtime. A forced
    * `broadcast(arr)` here (the round-4 shape) would ship every doc's
    * shingle array to every executor: OOM at 100 TB corpus scale.
    *
    * The restriction may be any SUPERSET of the docs in candidate pairs
    * (a semi join only filters; extra ids just leave the restricted side
    * slightly bigger), so callers pass `ids` derived from their blocking
    * structure — docs in non-singleton buckets / sharing a rare shingle —
    * which is one aggregate over an exchange the candidate join already
    * shuffles, instead of re-running the pair join itself. No `distinct`
    * needed: left-semi ignores right-side duplicates. */
  private def attachSets(cand: DataFrame, arr: DataFrame,
                         ids: DataFrame): DataFrame = {
    val carr = arr.join(ids, Seq("doc_id"), "left_semi")
    cand
      .join(carr.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(carr.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
  }

  /** DuckDB twin of the shingle-join exact-Jaccard verify, parameterized
    * by CTE text (`cand` and `sh` CTEs supplied by the caller). */
  private def duckJaccardTail(threshold: Double): String = s"""
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    i AS (SELECT doc_a, doc_b, COUNT(*) AS inter
          FROM cand JOIN sh a ON a.doc_id = doc_a
                    JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
          GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM i JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $threshold
    ORDER BY doc_a, doc_b"""

  /** Candidate pairs from the composed blocking key (length bucket ×
    * MinHash band × optional metadata equality columns). Exposed
    * separately so specs can measure candidate cardinality and cell
    * occupancy without running the verify stage. */
  private[graft] def blockedCandidates(docs: DataFrame,
                                       extraBlockCols: Seq[String],
                                       rowsPerBand: Int = 2): DataFrame =
    blockedCandidatesWithIds(docs, extraBlockCols, rowsPerBand)._1

  /** One-pass per-doc signature frame for the bigram family:
    * `(doc_id, bucket, sh, sig, extras…)` — `sh` is the sorted distinct
    * 60-bit hashed shingle set (the verify-stage input) and `sig` the K
    * minhashes over the SAME hashes' top 32 bits, so the corpus-wide
    * split+shingle+md5 work happens exactly once per doc (one md5 per
    * shingle serves both pipelines — bit-identical to hashing twice, as
    * the DuckDB oracle does).
    *
    * Lazily pinned ([[Tables.pin]], r21): the frame has 3–8 consumers
    * (cells for the candidate self-join, the occupancy aggregate, the
    * id restriction, both verify attaches), and per-branch filter/column
    * pushdown makes their exchange subtrees canonically DISTINCT, so
    * ReuseExchange cannot unify them — the un-pinned optimized plan
    * carried up to eight independent copies of the shingle+md5 subtree
    * (~8x one pass's CPU, measured at sf0.1 once the scan was spread).
    * Re-deriving per consumer was the right call while the starved scan
    * ran the whole pipeline on one task (the round-1 cache experiment);
    * spreading the scan flipped that trade-off.
    *
    * NULL-safe composed keys: metadata columns (lang, source) are
    * nullable at real corpus scale, and plain equality drops every
    * NULL-metadata doc from candidate generation (NULL = NULL is false
    * in the self-join AND the hot-block semi join) — an invisible
    * recall hole the null-free synthetic testdata can't catch. Coalesce
    * each block col to a sentinel so NULL groups with NULL: two docs
    * with unknown lang stay mutual candidates (blocking keys only gate
    * candidates; the exact-Jaccard verify still decides the pair).
    * "\u0000" can't collide with real metadata values.
    */
  private[graft] def bigramSignatures(docs: DataFrame,
                                      extraBlockCols: Seq[String]): DataFrame = {
    val pre = spread(docs, col("doc_id")).select(
      col("doc_id") +: split(col("text"), " ").as("w") +:
        extraBlockCols.map(c => coalesce(col(c).cast("string"), lit("\u0000")).as(c)): _*)
      .filter(size(col("w")) >= 2)
    // h60 is referenced by BOTH outputs, so CollapseProject keeps it in
    // its own projection and the hashes are computed once per doc. No
    // array_distinct before the sig: min over a multiset equals min
    // over its support. The 32-bit fingerprint (top bits of the 60-bit
    // md5 prefix) is the same derivation d51 uses, so the DuckDB twin
    // replays it digit-for-digit. `size(w) div 8` == the oracle's
    // `len(w) // 8` (w is the same split).
    val hashed = pre.select(
      col("doc_id") +: expr("size(w) div 8").as("bucket") +:
        transform(shingles(col("w"), 2), x => Md5Prefix60(x)).as("h60") +:
        extraBlockCols.map(col): _*)
    pin(hashed.select(
      col("doc_id") +: col("bucket") +:
        array_sort(array_distinct(col("h60"))).as("sh") +:
        MinHashSig(transform(col("h60"), h => shiftright(h, 28)), K, P).as("sig") +:
        extraBlockCols.map(col): _*))
  }

  /** Blocking cells derived from a [[bigramSignatures]] frame (band
    * explosion only — the expensive hashing already happened there). */
  private def cellsOf(sigs: DataFrame, extraBlockCols: Seq[String],
                      rowsPerBand: Int): DataFrame = {
    // The documented recall knob (SCALE.md): r rows per band over the
    // same K-signature gives K/r bands and s-curve
    // P(candidate) = 1-(1-j^r)^(K/r). The default 2x6 sits the curve's
    // knee near the 0.5 verify threshold; rowsPerBand=1 (12 bands)
    // shifts it left — ~0.9997 at j=0.5 instead of ~0.82 — trading more
    // candidate volume for borderline recall. DedupSpec pins the shift.
    // >= 1 first: rowsPerBand = 0 would die inside K % 0 itself, and a
    // negative value passes the divisibility test but yields an EMPTY
    // band list ((0 until K/r) with r < 0) — zero candidates, silently.
    require(rowsPerBand >= 1 && K % rowsPerBand == 0,
      s"rowsPerBand must be a positive divisor of K=$K, got $rowsPerBand")
    val bandCols = (0 until K / rowsPerBand).map { b =>
      struct(lit(b).as("band_id"),
             bandKey((0 until rowsPerBand).map(r =>
               col("sig")(rowsPerBand * b + r))).as("bkey"))
    }
    sigs.select(
      col("doc_id") +: col("bucket") +: explode(array(bandCols: _*)).as("bd") +:
        extraBlockCols.map(col): _*)
      .select(
        col("doc_id") +: col("bucket") +: col("bd.band_id").as("band_id") +:
          col("bd.bkey").as("bkey") +: extraBlockCols.map(col): _*)
  }

  /** Per-doc blocking cells: one row per (doc, band) carrying the full
    * composed key (bucket, band_id, bkey, extras). Exposed so DedupSpec
    * can assert the occupancy bound directly on the cell frame. */
  private[graft] def blockingCells(docs: DataFrame,
                                   extraBlockCols: Seq[String],
                                   rowsPerBand: Int = 2): DataFrame =
    cellsOf(bigramSignatures(docs, extraBlockCols), extraBlockCols, rowsPerBand)


  /** Candidate pairs plus the attachSets id superset: docs in
    * non-singleton cells (a doc alone in its cell can't be in a pair).
    * The occupancy aggregate shares the cell frame the self-join
    * shuffles anyway — far cheaper than re-deriving ids from the pair
    * join output.
    *
    * OCCUPANCY BOUND (the 100 TB property): the blocking key composes
    * the length bucket with a MinHash BAND over the doc's bigram
    * shingles (2 rows × BANDS bands from the same K-signature d51
    * uses). A cell is (bucket, band_id, bkey, extras): two docs share
    * one iff both minhashes of that band agree — probability j² for
    * Jaccard-j pairs — so cell occupancy tracks the corpus's actual
    * near-duplication factor, not its size. The former length-only key
    * put a corpus FRACTION in each bucket (bucket count tracks document
    * length, not corpus size), making the self-join O(fraction²) at
    * 100 TB; band keys are content-derived, so adding distinct docs
    * adds distinct keys and candidates stay linear in true near-dup
    * volume (DedupSpec pins exactly this on a skewed one-bucket
    * fixture). Recall is the d51 s-curve at the verify threshold:
    * P(candidate) = 1-(1-j²)^BANDS — the trade for structural
    * boundedness, measured on the planted sf testdata in DedupSpec. */
  private[graft] def blockedCandidatesWithIds(
      docs: DataFrame, extraBlockCols: Seq[String],
      rowsPerBand: Int = 2): (DataFrame, DataFrame) =
    candIdsOf(blockingCells(docs, extraBlockCols, rowsPerBand), extraBlockCols)

  /** [[blockedCandidatesWithIds]] over an existing cells frame, so a
    * caller holding the pinned signature frame (bigramPairsOf) shares
    * it instead of re-deriving the corpus pipeline. */
  private def candIdsOf(cells: DataFrame,
                        extraBlockCols: Seq[String]): (DataFrame, DataFrame) = {
    val keyCols = Seq("bucket", "band_id", "bkey") ++ extraBlockCols
    val sameCell = keyCols.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _)
    val cand = cells.as("x").join(cells.as("y"),
        sameCell && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct() // a pair sharing several bands appears once; the
                  // distinct's hash exchange also spreads the cell join
    // Non-singleton-cell docs via a count WINDOW over the cells (r22):
    // the former groupBy + left-semi join paid an aggregate exchange
    // plus a join exchange; the window needs ONE exchange on the same
    // cell key, and since it projects the same cell frame the self-join
    // shuffles anyway, the exchange subtree is shareable. Identical
    // rows: count(*) over the cell partition > 1 selects exactly the
    // docs in cells with >= 2 members (duplicates are fine — the
    // attachSets restriction is a left-semi consumer).
    val ids = cells
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("n") > 1).select("doc_id")
    (cand, ids)
  }

  /** d53/d58 core, reused by d55's cluster resolution: bigram-shingle
    * Jaccard pairs (threshold 0.5) from COMPOSED blocking — length
    * bucket × MinHash band (× `extraBlockCols` metadata). Per-doc
    * shingle SETS stay as sorted array columns of md5-hashed longs (one
    * row per doc, no explode); the verify stage attaches only the
    * candidate docs' sets ([[attachSets]]) and intersects each pair with
    * one SortedOverlap merge scan — no 50x expansion shuffle, no
    * pair-count groupBy, no per-pair string hashing.
    *
    * RECALL CONTRACT: the band component makes candidate generation
    * probabilistic — P(candidate) = 1-(1-j²)^BANDS for a Jaccard-j pair
    * (≈1 at j≥0.8: ≥0.998; ≈0.82 at exactly j=0.5, the verify
    * threshold). That s-curve is the price of structural boundedness:
    * a length-only key puts a corpus FRACTION in each bucket (quadratic
    * inside the bucket at 100 TB), while band keys are content-derived,
    * so candidates stay linear in true near-dup volume
    * ([[blockedCandidatesWithIds]]). The DuckDB twin
    * ([[duckBigramPairsSql]]) replays the banding digit-for-digit, so
    * the oracle pins the exact candidate set, not just high-j luck;
    * DedupSpec measures the bound and the borderline behavior.
    *
    * `extraBlockCols` further composes the key with metadata equality
    * (length × band × lang × source per SCALE.md) — an ADDITIONAL
    * deterministic recall trade the CALLER must justify against the
    * corpus: on this synthetic testdata the planted near-dups are
    * metadata-uncorrelated (measured at sf0.01: 18/18 true pairs
    * cross-source, 13/18 cross-lang), so d53 passes Nil and d58
    * demonstrates the lang-composed key. */
  private[graft] def bigramPairs(s: SparkSession, dir: String,
                                 extraBlockCols: Seq[String] = Nil): DataFrame =
    bigramPairsOf(documents(s, dir), extraBlockCols)

  /** [[bigramPairs]] over an arbitrary docs frame (spec entry point). */
  private[graft] def bigramPairsOf(docs: DataFrame,
                                   extraBlockCols: Seq[String] = Nil): DataFrame = {
    // ONE pinned signature pass serves blocking cells, occupancy, and
    // both verify attaches (see bigramSignatures); everything after it
    // operates on the materialized (doc_id, bucket, sh, sig) rows.
    val sigs = bigramSignatures(docs, extraBlockCols)
    val arr = sigs.select(col("doc_id"), col("sh"))
    val (cand, ids) = candIdsOf(cellsOf(sigs, extraBlockCols, 2), extraBlockCols)
    attachSets(cand, arr, ids)
      .withColumn("inter", SortedOverlap(col("sha"), col("shb")))
      .filter(col("inter") > 0)
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** DuckDB twin of [[bigramPairs]] (a complete SELECT; embeddable as a
    * parenthesized subquery), same `extraBlockCols` composition.
    *
    * Replays the COMPOSED candidate key — length bucket × MinHash band ×
    * metadata columns — digit-for-digit: the sigh/sig/bands CTEs are the
    * same replay the d51 oracle uses (shared [[duckSigCols]]/
    * [[duckBandKeys]] spellings of MinHashSig/bandKey), over bigram
    * shingles, so the oracle proves WHICH candidate pairs banding
    * produces, not just the verified tail. MIN over the DISTINCT shingle
    * multiset equals the Spark side's MIN over the raw multiset.
    * Metadata equality is IS NOT DISTINCT FROM — the same NULL-groups-
    * with-NULL semantics as the Spark coalesce-to-sentinel key. */
  private[graft] def duckBigramPairsSql(extraBlockCols: Seq[String] = Nil): String = {
    val extraSel = extraBlockCols.map(c => s", $c").mkString
    val extraSelT = extraBlockCols.map(c => s", t.$c").mkString
    val extraOn = extraBlockCols
      .map(c => s" AND x.$c IS NOT DISTINCT FROM y.$c").mkString
    s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w$extraSel FROM documents),
        shs AS (SELECT DISTINCT doc_id, shingle
                FROM (SELECT doc_id, unnest(${duckShingles(2)}) AS shingle
                      FROM t WHERE len(w) >= 2)),
        sh AS (SELECT DISTINCT doc_id, ${duckHexToLong("md5(shingle)", 15)} AS shingle
               FROM shs),
        sigh AS (SELECT doc_id, ${duckHexToLong("md5(shingle)", 8)} AS h FROM shs),
        sig AS (SELECT doc_id, $duckSigCols FROM sigh GROUP BY doc_id),
        blocks AS (SELECT sig.doc_id, len(t.w) // 8 AS bucket,
                          unnest($duckBandIds) AS band_id,
                          unnest($duckBandKeys) AS bkey$extraSelT
                   FROM sig JOIN t ON t.doc_id = sig.doc_id),
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                 FROM blocks x JOIN blocks y
                 ON x.bucket = y.bucket AND x.band_id = y.band_id
                    AND x.bkey = y.bkey$extraOn AND x.doc_id < y.doc_id),
        ${duckJaccardTail(0.5)}"""
  }

  def defs: Seq[QueryDef] = Seq(

    // ---- d50: exact dedup by content hash --------------------------------
    QueryDef("d50_exact_dedup",
      (s, dir) => documents(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id"),
      Some("""
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY doc_id""")),

    // ---- d51: MinHash + LSH banding + exact verify ------------------------
    // Map-side signatures: the per-doc shingle SET stays an array column,
    // so the K minhash values are array_min over a transform — computed in
    // one pass per row with NO explode/distinct/groupBy shuffle at all.
    // Band self-join (equality on band key) produces candidates; exact
    // Jaccard verification intersects md5-hashed long arrays per pair,
    // attaching only candidate docs' sets (attachSets — same pattern as
    // d53). Total shuffle: the band join + candidate repartition — both
    // bounded by docs x bands, never by shingle count. The 100 TB shape.
    QueryDef("d51_minhash_lsh",
      (s, dir) => {
        // ONE pinned pass (r21, Tables.pin) produces both the verify set
        // `sh` (sorted distinct 60-bit md5 prefixes) and the K-minhash
        // signature over the SAME hashes' top 32 bits (h60 >> 28 == the
        // 8-hex-digit prefix) — bit-identical to hashing twice, as the
        // DuckDB oracle does. Previously the band/hot/attach branches
        // re-derived this pipeline per consumer (right call on a 1-task
        // starved scan — the round-1 cache experiment; wrong once the
        // scan is spread 32-wide: filter/column pushdown makes the
        // branches' exchanges canonically distinct, so ReuseExchange
        // cannot unify them and the plan carried the subtree ~6x).
        val sigs = pin(
          spread(documents(s, dir), col("doc_id")) // adaptive: see Tables.spread
            .select(col("doc_id"), split(col("text"), " ").as("w"))
            .filter(size(col("w")) >= 3)
            .select(col("doc_id"),
              transform(array_distinct(shingles(col("w"), 3)),
                x => Md5Prefix60(x)).as("h60"))
            .select(col("doc_id"),
              array_sort(array_distinct(col("h60"))).as("sh"),
              MinHashSig(transform(col("h60"), h => shiftright(h, 28)), K, P)
                .as("sig")))
        // Sorted + distinct hashed shingle sets: the verify step below
        // intersects them with the SortedOverlap merge-scan kernel.
        val arr = sigs.select("doc_id", "sh")
        val sig = sigs.select("doc_id", "sig")
        val bandCols = (0 until BANDS).map { b =>
          struct(lit(b).as("band_id"),
                 bandKey(Seq(col("sig")(2 * b), col("sig")(2 * b + 1))).as("bkey"))
        }
        val bands = sig
          .select(col("doc_id"), explode(array(bandCols: _*)).as("bd"))
          .select(col("doc_id"), col("bd.band_id").as("band_id"), col("bd.bkey").as("bkey"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band_id") === col("y.band_id") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct()
        // attachSets id superset: docs in non-singleton band buckets
        // (a count window on the band exchange the self-join shuffles
        // anyway — not a recompute of the pair join; r22: the window
        // form replaces the former occupancy groupBy + left-semi join,
        // one exchange instead of two, same rows — see candIdsOf)
        val ids = bands
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("band_id", "bkey")))
          .filter(col("n") > 1).select("doc_id")
        val out = attachSets(cand, arr, ids)
          // merge-scan intersection of the pre-sorted sets (codegen kernel;
          // equals size(array_intersect) exactly — see ArrayKernelsSpec)
          .withColumn("inter", SortedOverlap(col("sha"), col("shb")))
          .filter(col("inter") > 0)
          .withColumn("jaccard",
            col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
        out
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        shs AS (SELECT DISTINCT doc_id, shingle
                FROM (SELECT doc_id, unnest(${duckShingles(3)}) AS shingle
                      FROM t WHERE len(w) >= 3)),
        sh AS (SELECT DISTINCT doc_id, ${duckHexToLong("md5(shingle)", 15)} AS shingle
               FROM shs),
        sigh AS (SELECT doc_id, ${duckHexToLong("md5(shingle)", 8)} AS h FROM shs),
        sig AS (SELECT doc_id, $duckSigCols FROM sigh GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest($duckBandIds) AS band_id, unnest($duckBandKeys) AS bkey FROM sig),
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                 FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        ${duckJaccardTail(0.8)}""")),

    // ---- d52: SimHash fingerprint (16-bit, md5-vote construction) --------
    // Pure projection via the fused SimHash16 kernel (r21): the former
    // explode + 16-vote-aggregate form shuffled every (doc_id, token)
    // row ONLY to sum per-doc votes a row-local loop computes exactly —
    // at 100 TB that is a corpus-wide shuffle for a per-row statistic.
    // Zero shuffles now at any scale (the t47 pattern); votes and bit
    // assembly are bit-identical (ArrayKernelsSpec pins the kernel
    // against the declarative vote pipeline, and the DuckDB oracle is
    // unchanged). filter(isNotNull) mirrors the old explode's
    // null-text row drop.
    QueryDef("d52_simhash",
      (s, dir) => spread(documents(s, dir), col("doc_id")) // adaptive: see Tables.spread
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.expressions.SimHash16(
            array_distinct(split(col("text"), " "))).as("simhash"))
        .orderBy("doc_id"),
      Some {
        val votes = (0 until 16).map { b =>
          s"SUM((strpos('0123456789abcdef', substr(md5(tok), ${b + 1}, 1)) - 1) % 2 * 2 - 1) AS v$b"
        }.mkString(", ")
        val bits = (0 until 16)
          .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
          .mkString(" + ")
        s"""
        WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id)
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM v ORDER BY doc_id"""
      }),

    // ---- d53: blocked n-gram Jaccard (bigram shingles, bucket × band) ----
    // The candidate key composes the length bucket with a MinHash BAND
    // over the doc's bigram shingles, so a hot length bucket can never go
    // quadratic: cell occupancy tracks near-duplication, not corpus size
    // (blockedCandidatesWithIds). The trade is the band s-curve —
    // P(candidate) = 1-(1-j²)^BANDS, ≥0.998 at j≥0.8 but ≈0.82 for a
    // pair sitting exactly at the 0.5 verify threshold — which the
    // DuckDB oracle replays exactly and DedupSpec pins on a planted
    // borderline pair. Deployments needing FULL recall at j=0.5 should
    // raise BANDS (more bands of fewer rows shifts the s-curve left) and
    // pay the wider candidate set.
    // Per-doc shingle SETS stay as array columns of md5-hashed LONGS (one
    // row per doc, no explode); the verify stage attaches only candidate
    // docs' sets (attachSets), so the only distributed work is a
    // primitive-array intersect per candidate pair across the
    // repartitioned block-join output — no 50x expansion shuffle, no
    // pair-count groupBy, no per-pair string hashing. The 60-bit md5
    // prefix is deterministic on any engine; the DuckDB oracle hashes
    // shingles identically, so even a (astronomically unlikely) collision
    // yields the same answer on both sides.
    QueryDef("d53_ngram_jaccard",
      (s, dir) => bigramPairs(s, dir).orderBy("doc_a", "doc_b"),
      Some(duckBigramPairsSql())),

    // ---- d58: composed-key blocked Jaccard (length × band × lang) --------
    // The SCALE.md candidate-cardinality knob made concrete: the same
    // pipeline as d53 with the block key further composed with `lang` —
    // a deterministic metadata cut on top of the probabilistic band key
    // (composing with source too would cut more but has zero recall on
    // this corpus: the planted dups are all cross-source, see
    // bigramPairs scaladoc). Returned pairs are the same-lang subset of
    // d53's; DedupSpec asserts exactly that.
    // Cost profile (warm, sf0.1, noop sink): ordered min ~2.4-3.4s,
    // unordered ~2.0-2.7s (BENCH_HISTORY.jsonl 02:55Z/02:59Z and
    // sha 0eddb4a 04:13Z/04:17Z). Adjudicated (round 12): the 03:20Z
    // run's ordered samples hit 5.4/7.0/6.3s — ALL interleaved slots
    // at once — against an unchanged plan, while the SAME run's
    // unordered pass sat at 1.96s, in profile; two fresh runs came
    // back at ordered mins 2.41s/2.37s, unordered 1.98s/1.97s. That is
    // the sustained-VM-disturbance noise mode adjudicated for d57
    // below; same rule: adjudicate any future elevation from >=2
    // history runs before touching the plan. Since round 13 the
    // history lines carry load_start/load_end (loadavg + steal ticks)
    // — read those FIRST: a steal delta or an out-of-profile loadavg
    // is one-run evidence. `Bench <dir> --repeat 2` appends two lines
    // in one command, but the second is a warm same-JVM repeat; the
    // two-fresh-runs protocol needs two invocations.
    // tools/bench_history.py applies the thresholds and derives the
    // per-query suspects and lead verdicts from the history: a
    // trailing `!` marks a run as non-comparable, so start triage
    // from the rendered table, not from remembered numbers.
    QueryDef("d58_blocked_composed",
      (s, dir) => bigramPairs(s, dir, Seq("lang")).orderBy("doc_a", "doc_b"),
      Some(duckBigramPairsSql(Seq("lang")))),

    // ---- d57: containment detection (partial-copy / quote duplication) ---
    // Jaccard misses a small doc wholly quoted inside a big one (the
    // union dwarfs the intersection); CONTAINMENT |A∩B| / |A| catches it.
    // Candidate generation blocks on each doc's minimum RARE shingle
    // (document frequency <= MAXDF): a high-containment pair shares all
    // of the contained doc's shingles, so its min rare shingle lands in
    // both buckets, while frequent shingles — which would glue hundreds
    // of unrelated docs into one bucket (measured: an uncapped min-hash
    // block put 275 docs / 315k pairs in one bucket at sf0.1; df<=25
    // leaves ~1k candidates with FULL recall of the 25 ground-truth
    // containment pairs at sf0.01) — never block anything. The absolute
    // df cap grows MORE selective as the corpus grows: it bounds the
    // plausible duplication factor, not a corpus fraction. The df table is one
    // hash aggregate, the block is an equality join: no all-pairs, same
    // 100 TB shape as d51/d53. Verification is the exact SortedOverlap
    // merge scan; the better direction's containment is reported.
    // Cost profile (warm, sf0.1, noop sink, pre-r21): shingle arrays
    // 0.34s; + the posting-level df aggregate 2.7s; full query 3.9s. The
    // df aggregate over exploded postings IS the dominant cost and is
    // inherent to rarity blocking — d51/d53 are faster only because
    // map-side MinHash signatures never materialize postings. Partial
    // (map-side) agg is active. r21 pinned the shingle arrays and spread
    // the scan (3.9 -> ~1.4s); r22 pins the rare-posting frame too — the
    // optimized plan still carried FOUR copies of the df aggregate, one
    // per consumer branch (see rex below).
    // Adjudicated (round 11): one bench round's ordered samples hit
    // 7.4/10.3/12.5s against an unchanged plan — two immediately
    // subsequent runs (BENCH_HISTORY.jsonl 2026-08-13T02:55/02:59Z)
    // came back at ordered mins 4.12s/3.89s with unordered 4.39s/3.95s,
    // matching this profile. That is the sustained-VM-disturbance noise
    // mode (hits all of a query's interleaved slots at once — the one
    // mode interleaving can't decorrelate); adjudicate any future
    // elevation from >=2 history runs before touching the plan — and
    // since round 13, check the history line's load_start/load_end
    // covariates (loadavg + steal ticks) first; see the d58 note.
    QueryDef("d57_containment",
      (s, dir) => {
        val MAXDF = 25
        // Pinned (r21, Tables.pin): `arr` feeds the df aggregate, the
        // posting join, and both verify attaches — un-pinned, each
        // branch re-derived the full shingle+md5 pipeline (the dominant
        // cost; two 1-task 4.7 s stages at sf0.1 before the scan was
        // spread, ~4 parallel recomputes after).
        val arr = pin(spread(documents(s, dir), col("doc_id")) // adaptive: see Tables.spread
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"),
            array_sort(array_distinct(transform(shingles(col("w"), 2),
              x => Md5Prefix60(x)))).as("sh")))
        val ex = arr.select(col("doc_id"), explode(col("sh")).as("h"))
        val rare = ex.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") <= MAXDF)
        // rare-shingle postings + each doc's min rare shingle. The probe
        // is ASYMMETRIC: A's min rare shingle against B's full posting
        // list — if A is contained in B, that shingle IS in B. (Blocking
        // both sides by their own min would lose pairs where B carries
        // extra rare shingles below A's min.) Candidates are bounded by
        // docs x MAXDF.
        //
        // r22: rex KEEPS the df column and is pinned. Its three consumers
        // (hmin, the candidate probe, the ids superset) each re-derived
        // the whole explode + posting-level df aggregate — the measured
        // dominant cost of this query — because per-branch pushdown makes
        // the subtrees canonically distinct (the optimized plan carried
        // FOUR copies of the aggregate). Pinning materializes postings
        // once; carrying df turns the ids join below into a plain filter.
        // Size discipline: rex is bounded by postings with df <= MAXDF
        // (≤ corpus postings), consumed 3x — the pin-pays-for-reuse shape
        // (unlike t45's once-per-consumer tf, where recompute won).
        val rex = pin(ex.join(rare, Seq("h")))
        val hmin = rex.groupBy("doc_id").agg(min("h").as("h"))
        val cand = hmin.as("x").join(rex.as("y"),
            col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
                  greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
          .distinct()
          .repartition(col("doc_a"), col("doc_b"))
        // attachSets id superset: docs holding a rare shingle shared by
        // >= 2 docs (any doc in a candidate pair shares its blocking
        // shingle, so it qualifies). df rides on rex, so this is a
        // filter, not a second join against the df aggregate (r22).
        val ids = rex.filter(col("df") >= 2).select("doc_id")
        attachSets(cand, arr, ids)
          .withColumn("inter", SortedOverlap(col("sha"), col("shb")))
          .withColumn("containment",
            greatest(col("inter").cast("double") / size(col("sha")),
                     col("inter").cast("double") / size(col("shb"))))
          .filter(col("containment") >= 0.8)
          .select("doc_a", "doc_b", "containment")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (SELECT DISTINCT doc_id, ${duckHexToLong("md5(shingle)", 15)} AS shingle
               FROM (SELECT doc_id, unnest(${duckShingles(2)}) AS shingle
                     FROM t WHERE len(w) >= 2)),
        rare AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
                 WHERE df <= 25),
        rex AS (SELECT doc_id, shingle FROM sh
                WHERE shingle IN (SELECT shingle FROM rare)),
        mins AS (SELECT doc_id, MIN(shingle) AS hmin FROM rex GROUP BY doc_id),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        cand AS (SELECT DISTINCT LEAST(x.doc_id, y.doc_id) AS doc_a,
                                 GREATEST(x.doc_id, y.doc_id) AS doc_b
                 FROM mins x JOIN rex y
                 ON y.shingle = x.hmin AND y.doc_id <> x.doc_id),
        i AS (SELECT doc_a, doc_b, COUNT(*) AS inter
              FROM cand JOIN sh a ON a.doc_id = doc_a
                        JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
              GROUP BY doc_a, doc_b)
        SELECT doc_a, doc_b,
               GREATEST(CAST(inter AS DOUBLE) / sa.n, CAST(inter AS DOUBLE) / sb.n) AS containment
        FROM i JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        WHERE GREATEST(CAST(inter AS DOUBLE) / sa.n, CAST(inter AS DOUBLE) / sb.n) >= 0.8
        ORDER BY doc_a, doc_b""")),

    // ---- d54: embedding near-dup pairs (quantized-exact cosine) ----------
    QueryDef("d54_embedding_neardup",
      (s, dir) => {
        // All-pairs correctness baseline for the LSH path (s61). The
        // per-pair kernel is the codegen'd QCosine expression — same IEEE
        // result as the declarative qdot/qcosine form (see SimilaritySpec
        // bit-for-bit test) but a fused primitive loop instead of
        // interpreted aggregate(zip_with(...)) per pair.
        // nrm > 0 on both sides: a zero-norm vector has no cosine, and
        // 0/0 diverges across engines (Spark NaN, DuckDB NULL)
        // Adaptive spread (r21): the nested-loop pair join's parallelism
        // is the STREAM side's partition count — on a 1-task scan the
        // whole 2M-pair QCosine loop ran single-threaded.
        val e = spread(embeddings(s, dir), col("vec_id"))
          .select(col("vec_id"), quantize(col("embedding")).as("q"))
          .filter(qdot(col("q"), col("q")) > 0)
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .withColumn("cosine", QCosine(col("a.q"), col("b.q")))
          .filter(col("cosine") >= 0.45)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
          .orderBy("vec_a", "vec_b")
      },
      Some("""
        WITH q AS (SELECT vec_id,
                          list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
                   FROM embeddings),
        n AS (SELECT * FROM (
              SELECT vec_id, q,
                     CAST(list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * q[i])) AS BIGINT) AS nrm
              FROM q) WHERE nrm > 0)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS DOUBLE)
                 / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i])) AS DOUBLE)
                 / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.45
        ORDER BY vec_a, vec_b""")))
}
