package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.TextOps
import graft.functions.GraftFunctions
import graft.ops.TextOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication surface for a training-data pipeline (north-star
  * extension; absent in the reference — SURVEY.md §2.4): exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact: a single hash-shuffle groupBy on the content hash.
  *  - ngram-jaccard: inverted-index equi-join on shingles (candidates
  *    share >=1 shingle) — never an all-pairs cartesian. The DuckDB
  *    oracle computes the same result the O(n²) way, which is only
  *    feasible because the gate runs at sf0.01.
  *  - minhash LSH: k=16 signature, 4 bands × 4 rows; candidates are
  *    band-bucket collisions (equi-join on the band key) verified with
  *    exact Jaccard — the standard near-dup pipeline at corpus scale.
  *  - simhash: 32-bit fingerprint; candidates collide on one of two
  *    16-bit bands (a pair at Hamming ≤ 1 keeps ≥1 band intact by
  *    pigeonhole, so banding loses nothing at the chosen threshold),
  *    then exact Hamming filters. The threshold is tight (≤1) because
  *    the small-vocab synthetic corpus gives near-identical term
  *    frequency vectors — and simhash IS a frequency-vector sketch —
  *    so looser thresholds match unrelated docs.
  *  - embedding: exact thresholded pairs via a triangle-blocked
  *    equi-join (bounded task memory, no corpus broadcast — see the
  *    query's comment); the LSH variant (random-hyperplane signatures,
  *    banded) is the subquadratic path when recall < 1 is acceptable.
  */
object DedupQueries {

  private val shingleN = 3
  private[queries] val jaccardThreshold = 0.6
  /** Bloom-prefilter width (2^20 bits): sized so the eval split's
    * ~100k windows load the filter ≲0.2 — FPR ≈ (1−e^−load)² ≈ 3%,
    * and the query MEASURES the realized rate per doc. */
  private val bloomBits = 1048576L
  /** Cosine threshold for within-cluster semantic dedup: lower than
    * the exact-pair operator's 0.45 because SemDeDup prunes by
    * cluster membership first (the fixture's within-cluster cosine
    * p99 ≈ 0.30 — 0.35 keeps a non-trivial dup set). */
  private val semThreshold = 0.35

  /** doc_id → distinct HASHED 3-gram shingle set (array<bigint>).
    * Shingles are hashed (h32 mod P) before any set operation: set
    * sizes, intersections, prefixes and join keys all work on longs
    * instead of strings — far cheaper at corpus scale, and standard
    * practice for shingle-based dedup. Both engines hash identically
    * (md5-derived), so the oracle sees the same sets.
    *
    * Tokens / shingles / hashes are materialized in SEPARATE selects —
    * Spark inlines column expressions into higher-order lambdas, so
    * fusing these would re-split the text once per array element
    * (measured ~8× slower at sf0.1). */
  private[queries] def docShingles(spark: SparkSession, dir: String,
      fence: Boolean = false): DataFrame = {
    // parallelism floor BEFORE the tokenize→shingle chain: the fixture
    // ships documents as one single-row-group file, so without this the
    // whole shingle pipeline runs inside one scan task (measured ~0.5 s
    // serial wall at sf0.1); identity on multi-split inputs (ScanPar)
    val shc = array_sort(array_distinct(
      GraftFunctions.shingleHashes(col("w"), shingleN, TextOps.P)))
    graft.ops.ScanPar.ensure(spark, Tables(spark, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      // fused codegen'd tokens→hashed-shingles (ShingleHashes): no
      // shingle strings are ever materialized; byte-identical to the
      // concat_ws+md5 builtin formulation the oracle mirrors.
      // Sorted ascending: every consumer is order-insensitive, and the
      // exact-verify joins use a codegen'd two-pointer intersection
      // count that requires sorted distinct inputs.
      // `fence` wraps the shingle array in the Materialize identity
      // fence: consumers that derive join keys from `sh` (size, ranked
      // prefixes) otherwise get isnotnull/size constraints PUSHED below
      // the parallelism-floor exchange — re-evaluating the whole
      // tokenize→shingle chain per row inside the serial scan task
      // (seen in the round-20 ngram plan: four scan-side filters each
      // recomputing graft_shingle_hashes). Identity at runtime, so
      // every consumer's RESULT is bit-identical with or without it.
      .select(col("doc_id"),
        (if (fence) GraftFunctions.materialize(shc) else shc).as("sh"))
  }

  /** Shared oracle CTE: doc_id → distinct hashed 3-gram shingle set. */
  private val shinglesCte =
    s"""WITH gs AS (
       |  SELECT doc_id, ${shinglesSql(s"w", shingleN)} AS g
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents)
       |),
       |sh AS (SELECT doc_id, list_distinct(${shingleHashesSql("g")}) AS sh FROM gs)""".stripMargin

  /** PPJoin prefix index over a (doc_id, sh) shingle frame: each
    * doc's shingles ranked rarest-first, keeping only the first
    * |A| - ceil(t|A|) + 1 positions (t = 3/5, exact integer bounds).
    *
    * Rarity ranking WITHOUT shuffling the exploded shingle stream:
    * only shingles with df >= 2 are broadcast as a dictionary, and
    * the rank key is coalesce(df, 1). This reproduces the exact
    * (df, shingle) total order BIT-FOR-BIT — a df = 1 shingle gets
    * key (1, shingle) from the coalesce exactly as it would from the
    * equi-join, and a df = 1 shingle can never generate a candidate
    * anyway (no second document shares it) — so candidate counts are
    * identical to the exact-df design (SCALING.md; a bounded top-K
    * dictionary was measured first and REJECTED: treating the
    * uncovered vocabulary tail as uniformly rare degraded candidates
    * ×14.6 per decade vs ×10 exact). The dictionary is
    * duplicate-vocabulary-sized (shingles occurring in >= 2 docs):
    * ~4 MB at the 50k-doc probe scale. For corpora whose repeated
    * vocabulary outgrows broadcast limits, swap `broadcast(dict)`
    * for the plain equi-join — a one-line change that trades this
    * map-side lookup for the exploded-stream shuffle. */
  private[queries] def prefixIndex(sh: DataFrame,
      shareDict: Boolean = false): DataFrame = {
    // WINDOW-FREE ranking (round 9), made ROW-LOCAL end to end
    // (round 19): the round-9 shape exploded the full shingle stream,
    // broadcast-hash-joined the df ≥ 2 dictionary onto it, and
    // re-aggregated per doc (collect_list of (df, shingle) structs +
    // array_sort + slice) — one exchange plus per-doc struct buffers,
    // and the whole subtree planned TWICE under the candidate
    // self-join (AQE does not stage-reuse the aliased copies;
    // measured plans in plans/r19). Now the dictionary itself is the
    // only aggregate: it folds to ONE row of two aligned sorted
    // arrays (keys, dfs), broadcasts, and [[GraftFunctions.rankByDf]]
    // ranks each doc's shingle array in place with binary-search
    // lookups — no rank exchange, no struct sort, and the duplicated
    // subtree left under the self-join is a cached-scan + projection.
    // The (df, shingle) total order — and therefore every candidate —
    // is bit-identical to the round-9 design (coalesce(df, 1)
    // semantics included: absent keys rank with df = 1, and a df = 1
    // shingle can never generate a candidate anyway). SCALING.md
    // records the single-row-MAP rank variant failing 20× on Spark's
    // linear map lookup; sorted arrays + binary search are the fix.
    // The dictionary stays duplicate-vocabulary-sized (df ≥ 2 only) —
    // same broadcast-size posture as the round-9 design.
    val ex = sh.select(explode(col("sh")).as("shingle"))
    val dict = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val dictRow0 = dict
      .agg(array_sort(collect_list(struct(col("shingle"), col("df")))).as("kv"))
      .select(transform(col("kv"), x => x.getField("shingle")).as("ks"),
        transform(col("kv"), x => x.getField("df")).as("ds"))
    // shareDict: the prefix index is usually SELF-JOINED, and a
    // self-join clones the whole subtree — including this one-row
    // dictionary's full explode→count→collect pipeline. Persisting the
    // single-row frame makes both clones read one computed dictionary
    // (one exchange pipeline instead of two; no lock-contention risk on
    // a one-row, two-consumer cache).
    val dictRow = if (shareDict) dictRow0.persist() else dictRow0
    sh.crossJoin(broadcast(dictRow))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        GraftFunctions.rankByDf(col("sh"), col("ks"), col("ds")).as("ranked"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("ranked"),
          lit(1), expr("CAST(sz - ((sz*3+4) div 5) + 1 AS INT)")))
          .as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("shingle"), col("sz"), col("pos"))
  }

  private[queries] def jaccardSqlPair =
    s"CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"

  /** The LSH-cluster CTE chain (shingles → signatures → bands →
    * verified pairs → symmetric edges → recursive reachability) and
    * the final labeling select — factored so q_dedup_canonical can
    * compose the SAME oracle text under additional CTEs (a nested
    * WITH RECURSIVE cannot be embedded as a subquery CTE). */
  private[queries] lazy val clustersPairsCte: String =
    s"""${shinglesCte.stripPrefix("WITH ")},
       |sig AS (SELECT doc_id, ${minhashSigFromHashesSql("sh")} AS sig FROM sh),
       |bands AS (${(0 until numBands).map { b =>
      s"(SELECT doc_id, $b AS band, array_to_string(sig[${b * bandRows + 1}:${(b + 1) * bandRows}], '_') AS key FROM sig)"
    }.mkString("\nUNION ALL\n")}),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |),
       |pairs AS (
       |  SELECT cand.da, cand.db
       |  FROM cand JOIN sh a ON a.doc_id = cand.da JOIN sh b ON b.doc_id = cand.db
       |  WHERE $jaccardSqlPair >= $jaccardThreshold
       |),
       |edges AS (SELECT da AS a, db AS b FROM pairs
       |          UNION ALL SELECT db AS a, da AS b FROM pairs),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |)""".stripMargin

  private[queries] lazy val clustersSelect: String =
    """SELECT d.doc_id,
      |  least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id,
      |  (least(d.doc_id, coalesce(min(r.b), d.doc_id)) = d.doc_id) AS is_keeper
      |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |GROUP BY d.doc_id""".stripMargin

  /** Block count B for the triangle-blocked exact embedding join
    * (`q_dedup_embedding`). The join fans out to B(B+1)/2 block-pair
    * tasks, so the default is the smallest B whose task count covers
    * the cluster's shuffle parallelism — B ≈ ceil((√(8P+1)−1)/2) for
    * P = spark.sql.shuffle.partitions — instead of a constant that is
    * right on one machine and wrong on a 1000-executor cluster (P=32
    * → B=8; P=2000 → B=63). Override with
    * `spark.graft.dedup.embedding.blocks` when per-task memory is the
    * binding constraint: each task buffers ~2n/B rows, so at a fixed
    * executor size B must also grow linearly with corpus size n.
    *
    * ROUTING RULE — exact vs approximate: this exact operator costs
    * Θ(n²) COMPUTE by its semantics (every pair is examined; blocking
    * only bounds memory/shuffle). A 100× corpus costs 10,000×
    * comparisons, so route corpora beyond ~10M vectors (≈5·10¹³ pairs)
    * to the subquadratic `q_ann_lsh_hyperplane` banding path and accept
    * recall < 1 — or raise the similarity threshold out of the random-
    * cosine tail, where banding recall is high enough to LSH-prefilter
    * and exact-verify only the collisions. */
  private[queries] def embeddingBlocks(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dedup.embedding.blocks")
      .map(_.toInt).getOrElse {
        val p = spark.sessionState.conf.numShufflePartitions
        math.max(2, math.ceil((math.sqrt(8.0 * p + 1) - 1) / 2).toInt)
      }

  /** q_dedup_ngram_jaccard body. The shingle frame `sh` feeds five
    * consumers (dict build, both prefix self-join sides, both verify
    * join-backs) and is NOT persisted: it is recomputed from the scan,
    * behind the Materialize fence, with one shared dictionary build.
    * Measured in round 20 (medians of 5 interleaved runs at local[32]):
    * the round-19 lazy persist intermittently serialized the five
    * consumers on per-block cache-lock races (bench runs bimodal
    * 0.9/2.1 s, and anti-scaling: 32c 1.19 s vs 8c 0.84 s). Against
    * it: persist 0.82, no persist 0.83, + fence 0.72, + fence + shared
    * dict 0.67 s — and the shipped shape was the only unimodal one
    * (max 0.80 vs 1.7–2.2 cold spikes). The fence stops the pushed
    * isnotnull/size constraints re-running the whole shingle chain
    * inside the serial scan task; the shared (persisted one-row) dict
    * stops the self-join's clones re-running the explode→count
    * pipeline. */
  private[graft] def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d, fence = true)
    val prefix = prefixIndex(sh, shareDict = true)
    // t = 3/5 exactly, so every bound is exact integer arithmetic:
    //  - size filter: 3*max <= 5*min
    //  - PPJoin positional filter: a shared prefix shingle at
    //    (1-based) positions pa/pb bounds the overlap by
    //    1 + min(sza-pa, szb-pb); prune when that is below the
    //    required overlap ceil(3(sza+szb)/8)  [t/(1+t) = 3/8].
    val cand = prefix.alias("a")
      .join(prefix.alias("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * 3 <= col("b.sz") * 5 &&
        col("b.sz") * 3 <= col("a.sz") * 5 &&
        (lit(1) + least(col("a.sz") - col("a.pos") - 1,
          col("b.sz") - col("b.pos") - 1)) >=
          expr("(3*(a.sz + b.sz) + 7) div 8"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val fa = sh.select(col("doc_id").as("da"), col("sh").as("sha"))
    val fb = sh.select(col("doc_id").as("db"), col("sh").as("shb"))
    val inter = GraftFunctions.intersectCountSorted(col("sha"), col("shb"))
    val uni = size(col("sha")) + size(col("shb")) - inter
    cand.join(fa, "da").join(fb, "db")
      .withColumn("jaccard", inter.cast("double") / uni)
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jaccard"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: one shuffle on the content hash ----
    QueryDef("q_dedup_exact", Some(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin))(
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))),

    // ---- normalized (bag-of-words) dedup: canonicalize each doc to
    // its sorted distinct token set and hash THAT — catches the
    // reorder/shuffle near-dups byte-exact dedup misses, still with a
    // single hash-shuffle groupBy (same scale profile as exact dedup,
    // unlike the pairwise similarity paths). Tokens are ASCII here, so
    // Spark's codepoint array_sort and DuckDB's binary-collation
    // list_sort agree. ----
    QueryDef("q_dedup_bow", Some(
      """SELECT bow_hash, min(doc_id) AS keeper, count(*) AS n_docs
        |FROM (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(
        |          string_split(trim(text), ' '))), ' ')) AS bow_hash
        |      FROM documents)
        |GROUP BY bow_hash""".stripMargin))(
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .select(col("doc_id"),
            md5(concat_ws(" ", array_sort(array_distinct(col("w"))))).as("bow_hash"))
          .groupBy(col("bow_hash"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))),

    // ---- exact n-gram Jaccard via shingle inverted index ----
    QueryDef("q_dedup_ngram_jaccard", Some(
      s"""$shinglesCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardSqlPair AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE $jaccardSqlPair >= $jaccardThreshold""".stripMargin),
      headline = true)(
      // PPJoin-style prefix filtering, exact for J >= t (t = 0.6):
      // order every doc's shingles by global rarity; a qualifying
      // pair MUST share a shingle within each side's first
      // |A| - ceil(t|A|) + 1 shingles, so only prefixes are joined.
      // ceil(t|A|) is computed in exact integer arithmetic
      // ((3|A|+4) div 5) — no FP boundary risk. A size-ratio filter
      // (min >= t*max) prunes further. Candidates are then verified
      // with exact Jaccard on the full shingle sets. Body, and the
      // measured reason for its materialization shape: [[ngramJaccard]].
      (s, d) => ngramJaccard(s, d)),

    // ---- edit-distance verify over bag-of-words candidates: docs
    // with IDENTICAL token sets (q_dedup_bow groups) differ only by
    // word order/repetition — levenshtein on the raw text quantifies
    // how far apart they actually are. The candidate set comes from an
    // equi-join on the bow hash (never pairwise over the corpus), and
    // the O(len²) DP runs only on those few pairs — the standard
    // cheap-filter → expensive-verify shape. Both engines implement
    // classic unit-cost levenshtein, so the distances are oracled
    // exactly. ----
    // Edit distance is O(len_a·len_b) per pair — unbounded, it was the
    // catalog's worst straggler (74 s at sf0.1: 36k candidate pairs ×
    // ~600-char texts ≈ 12G matrix cells). Dedup only cares about
    // SMALL distances, so the engine computes the BANDED Ukkonen
    // variant (Spark's 3-arg levenshtein: O(cap·len), early-abort) and
    // emits the cap sentinel -1 for anything farther; the oracle caps
    // the full distance with a CASE — same value by definition.
    QueryDef("q_dedup_edit_distance", Some(
      """WITH b AS (SELECT doc_id, text,
        |  md5(array_to_string(list_sort(list_distinct(
        |    string_split(trim(text), ' '))), ' ')) AS h FROM documents)
        |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |  CAST(CASE WHEN levenshtein(a.text, c.text) <= 64
        |       THEN levenshtein(a.text, c.text) ELSE -1 END AS BIGINT) AS edit_dist,
        |  CAST(length(a.text) AS BIGINT) AS len_a,
        |  CAST(length(c.text) AS BIGINT) AS len_b
        |FROM b a JOIN b c ON a.h = c.h AND a.doc_id < c.doc_id""".stripMargin))(
      (s, d) => {
        val b = Tables(s, d, "documents")
          .select(col("doc_id"), col("text"), tokens(col("text")).as("w"))
          .select(col("doc_id"), col("text"),
            md5(concat_ws(" ", array_sort(array_distinct(col("w"))))).as("h"))
          .persist() // self-joined below
        b.alias("a")
          .join(b.alias("c"), col("a.h") === col("c.h") &&
            col("a.doc_id") < col("c.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
            col("a.text").as("ta"), col("c.text").as("tb"))
          // verify-stage skew break: the join output is partitioned by
          // the CANDIDATE key h, so one bag-of-words cluster of n docs
          // lands all its n(n-1)/2 pairs on ONE task and the banded-DP
          // verify runs serially (measured 86% of pairs on one key at
          // sf0.1: 3.5 s -> 0.9 s). Re-keying by the PAIR spreads the
          // O(cap·len) compute; the exchanged rows are just the
          // candidate pairs + texts, tiny next to the verify itself.
          .repartition(col("doc_a"), col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta"), col("tb"), 64).cast("bigint")
              .as("edit_dist"),
            length(col("ta")).cast("bigint").as("len_a"),
            length(col("tb")).cast("bigint").as("len_b"))
      }),

    // ---- train/benchmark decontamination: which training docs share
    // a 5-gram with the held-out split? The standard pre-training
    // hygiene pass (benchmark contamination), expressed as an
    // inverted-index join on HASHED 5-gram shingles between the two
    // hash-split partitions of q_sample_split — never an all-pairs
    // compare. The held-out side is a small fixed fraction of the
    // corpus, so at cluster scale its exploded shingle index
    // broadcasts and the train side streams map-side; output is one
    // row per contaminated train doc with its exposure counts. ----
    QueryDef("q_dedup_contamination", Some(
      s"""WITH gs AS (
         |  SELECT doc_id, ${h32Sql("text")} % 100 AS bucket,
         |    ${shinglesSql("w", 5)} AS g
         |  FROM (SELECT doc_id, text, ${tokensSql("text")} AS w FROM documents)),
         |sh AS (SELECT doc_id, bucket, list_distinct(${shingleHashesSql("g")}) AS sh FROM gs),
         |ex_train AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE bucket < 80),
         |ex_test AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE bucket >= 90)
         |SELECT t.doc_id, count(DISTINCT b.doc_id) AS n_test_docs,
         |  count(DISTINCT t.h) AS n_shared_shingles
         |FROM ex_train t JOIN ex_test b ON t.h = b.h
         |GROUP BY t.doc_id""".stripMargin))(
      (s, d) => {
        val sh = Tables(s, d, "documents")
          .select(col("doc_id"), pmod(h32(col("text")), lit(100L)).as("bucket"),
            tokens(col("text")).as("w"))
          .select(col("doc_id"), col("bucket"),
            // Materialize: explode's implicit isnotnull filter would
            // otherwise inline (and re-run) the whole shingle pipeline
            GraftFunctions.materialize(array_distinct(
              GraftFunctions.shingleHashes(col("w"), 5, TextOps.P))).as("sh"))
        val exTrain = sh.where(col("bucket") < 80)
          .select(col("doc_id"), explode(col("sh")).as("h"))
        val exTest = sh.where(col("bucket") >= 90)
          .select(col("doc_id").as("test_doc"), explode(col("sh")).as("h"))
        exTrain.join(broadcast(exTest), Seq("h"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("test_doc")).as("n_test_docs"),
            countDistinct(col("h")).as("n_shared_shingles"))
      }),

    // ---- benchmark DECONTAMINATION (the remediation twin of
    // q_dedup_contamination's detection report): score EVERY training
    // doc against a small held-out eval split — per-doc contaminated
    // 5-gram-window count, fraction, and the keep/drop decision
    // (drop when >25% of a doc's windows appear in the eval set;
    // exact integer compare 4·contam > windows). The asymmetric
    // shape is the 100 TB argument: the eval split's distinct-shingle
    // index is benchmark-sized, so it BROADCASTS; the corpus streams
    // map-side through the broadcast join and never shuffles for the
    // eval lookup. The per-doc hit-count frame, by contrast, is
    // contamination-PROPORTIONAL (one row per contaminated train doc)
    // — bounded only by the assumption that contamination is rare, so
    // it carries NO broadcast hint: on a clean corpus AQE will still
    // choose a broadcast for the final left join, but on a dirty one
    // (an eval set leaked wholesale into a crawl) the planner is free
    // to fall back to a shuffled join instead of OOMing the driver.
    // Clean docs emit n_contam = 0. ----
    QueryDef("q_dedup_decontaminate", Some(
      s"""WITH gs AS (
         |  SELECT doc_id, ${h32Sql("text")} % 100 AS bucket,
         |    ${shinglesSql("w", 5)} AS g
         |  FROM (SELECT doc_id, text, ${tokensSql("text")} AS w FROM documents)),
         |sh AS (SELECT doc_id, bucket,
         |         list_distinct(${shingleHashesSql("g")}) AS sh FROM gs),
         |ev AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE bucket >= 95),
         |tr AS (SELECT doc_id, len(sh) AS n_windows, sh
         |       FROM sh WHERE bucket < 95),
         |hit AS (
         |  SELECT t.doc_id, count(*) AS n_contam
         |  FROM (SELECT doc_id, unnest(sh) AS h FROM tr) t
         |  JOIN ev ON t.h = ev.h
         |  GROUP BY t.doc_id)
         |SELECT tr.doc_id, tr.n_windows,
         |  coalesce(hit.n_contam, 0) AS n_contam,
         |  CASE WHEN tr.n_windows = 0 THEN 0.0
         |       ELSE CAST(coalesce(hit.n_contam, 0) AS DOUBLE) / tr.n_windows
         |  END AS contam_frac,
         |  (4 * coalesce(hit.n_contam, 0) <= tr.n_windows) AS keep,
         |  (coalesce(hit.n_contam, 0) = 0) AS strict_keep
         |FROM tr LEFT JOIN hit ON hit.doc_id = tr.doc_id""".stripMargin))(
      (s, d) => {
        val sh = Tables(s, d, "documents")
          .select(col("doc_id"), pmod(h32(col("text")), lit(100L)).as("bucket"),
            tokens(col("text")).as("w"))
          .select(col("doc_id"), col("bucket"),
            // Materialize: explode's implicit isnotnull filter would
            // otherwise inline (and re-run) the whole shingle pipeline
            GraftFunctions.materialize(array_distinct(
              GraftFunctions.shingleHashes(col("w"), 5, TextOps.P))).as("sh"))
        val evalIdx = sh.where(col("bucket") >= 95)
          .select(explode(col("sh")).as("h")).distinct()
        val train = sh.where(col("bucket") < 95)
          .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_windows"),
            col("sh"))
        val hits = train
          .select(col("doc_id"), explode(col("sh")).as("h"))
          .join(broadcast(evalIdx), Seq("h"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
        val nC = coalesce(col("n_contam"), lit(0L))
        train.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"),
            nC.as("n_contam"),
            when(col("n_windows") === 0, lit(0.0))
              .otherwise(nC.cast("double") / col("n_windows"))
              .as("contam_frac"),
            (lit(4) * nC <= col("n_windows")).as("keep"),
            // zero-tolerance variant (drop on ANY shared window) —
            // what most eval-decontamination runs actually ship
            (nC === 0).as("strict_keep"))
      }),

    // ---- Bloom-filter prefilter for historical-corpus anti-joins,
    // with EXACT false-positive accounting: the same eval split as
    // q_dedup_decontaminate is folded into a modeled Bloom filter
    // (m = 2^20 bits, two h32-derived hash functions), the training
    // corpus' windows probe it, and the exact membership check runs
    // alongside so the output reports true hits AND false positives
    // per doc — the measurement that sizes m before trusting the
    // filter at 100 TB. The filter is modeled relationally as its
    // DISTINCT set-bit table (≤ 2·|eval windows| rows, ~MBs for a
    // benchmark-sized split), so the probe is two BROADCAST joins on
    // the bit positions plus one on the exact hash — the corpus
    // streams map-side, never shuffling for any membership test; a
    // Bloom miss (either bit absent) is a guaranteed non-member, which
    // is the 99%+ of windows that skip the expensive exact path in a
    // production anti-join. All hashing is exact int64 (a·h ≤ 2^61),
    // bit-identical across engines. ----
    QueryDef("q_dedup_bloom_prefilter", Some {
      val m = bloomBits
      val (a, b) = (TextOps.minhashA.head, TextOps.minhashB.head)
      s"""WITH gs AS (
         |  SELECT doc_id, ${h32Sql("text")} % 100 AS bucket,
         |    ${shinglesSql("w", 5)} AS g
         |  FROM (SELECT doc_id, text, ${tokensSql("text")} AS w FROM documents)),
         |sh AS (SELECT doc_id, bucket,
         |         list_distinct(${shingleHashesSql("g")}) AS sh FROM gs),
         |evh AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE bucket >= 95),
         |bits AS (
         |  SELECT DISTINCT b FROM (
         |    SELECT h % $m AS b FROM evh
         |    UNION ALL
         |    SELECT (($a * h + $b) % ${TextOps.P}) % $m AS b FROM evh)),
         |tr0 AS (SELECT doc_id, len(sh) AS n_windows
         |        FROM sh WHERE bucket < 95),
         |tr AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE bucket < 95),
         |probe AS (
         |  SELECT tr.doc_id,
         |    (tr.h % $m) IN (SELECT b FROM bits)
         |      AND ((($a * tr.h + $b) % ${TextOps.P}) % $m)
         |            IN (SELECT b FROM bits) AS bloom_hit,
         |    tr.h IN (SELECT h FROM evh) AS is_member
         |  FROM tr),
         |pagg AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_bloom_hits,
         |    CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_true,
         |    CAST(sum(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_false_pos
         |  FROM probe GROUP BY doc_id)
         |SELECT t.doc_id, CAST(t.n_windows AS BIGINT) AS n_windows,
         |  coalesce(pagg.n_bloom_hits, 0) AS n_bloom_hits,
         |  coalesce(pagg.n_true, 0) AS n_true,
         |  coalesce(pagg.n_false_pos, 0) AS n_false_pos
         |FROM tr0 t LEFT JOIN pagg ON pagg.doc_id = t.doc_id""".stripMargin
    })(
      (s, d) => {
        val m = lit(bloomBits)
        val (a, b) = (lit(TextOps.minhashA.head), lit(TextOps.minhashB.head))
        val sh = Tables(s, d, "documents")
          .select(col("doc_id"), pmod(h32(col("text")), lit(100L)).as("bucket"),
            tokens(col("text")).as("w"))
          .select(col("doc_id"), col("bucket"),
            // Materialize: explode's implicit isnotnull filter would
            // otherwise inline (and re-run) the whole shingle pipeline
            GraftFunctions.materialize(array_distinct(
              GraftFunctions.shingleHashes(col("w"), 5, TextOps.P))).as("sh"))
          .persist() // eval index + probe stream
        val evh = sh.where(col("bucket") >= 95)
          .select(explode(col("sh")).as("h")).distinct()
        val bits = evh.select(pmod(col("h"), m).as("b"))
          .unionAll(evh.select(pmod(pmod(a * col("h") + b, lit(TextOps.P)), m).as("b")))
          .distinct()
        val tr0 = sh.where(col("bucket") < 95)
          .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_windows"))
        val pr = sh.where(col("bucket") < 95)
          .select(col("doc_id"), explode(col("sh")).as("h"))
          .select(col("doc_id"), col("h"),
            pmod(col("h"), m).as("b1"),
            pmod(pmod(a * col("h") + b, lit(TextOps.P)), m).as("b2"))
        val hit = pr
          .join(broadcast(bits.select(col("b").as("b1"), lit(1).as("m1"))),
            Seq("b1"), "left")
          .join(broadcast(bits.select(col("b").as("b2"), lit(1).as("m2"))),
            Seq("b2"), "left")
          .join(broadcast(evh.select(col("h"), lit(1).as("mh"))),
            Seq("h"), "left")
          .select(col("doc_id"),
            (col("m1").isNotNull && col("m2").isNotNull).as("bloom_hit"),
            col("mh").isNotNull.as("is_member"))
        val pagg = hit.groupBy(col("doc_id"))
          .agg(sum(when(col("bloom_hit"), 1).otherwise(0)).as("n_bloom_hits"),
            sum(when(col("is_member"), 1).otherwise(0)).as("n_true"),
            sum(when(col("bloom_hit") && !col("is_member"), 1).otherwise(0))
              .as("n_false_pos"))
        // left join from the DOC list so a doc with no 5-gram windows
        // (under 5 tokens) still reports a zeros row — same roster as
        // q_dedup_decontaminate, which the consistency spec pins
        tr0.join(pagg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"),
            coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_false_pos"), lit(0L)).as("n_false_pos"))
      }),

    // ---- MinHash + LSH banding, exact-Jaccard verified ----
    QueryDef("q_dedup_minhash_lsh", Some {
      val bandKeys = (0 until numBands).map { b =>
        s"(SELECT doc_id, $b AS band, array_to_string(sig[${b * bandRows + 1}:${(b + 1) * bandRows}], '_') AS key FROM sig)"
      }.mkString("\nUNION ALL\n")
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, ${minhashSigFromHashesSql("sh")} AS sig FROM sh),
         |bands AS ($bandKeys),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
         |)
         |SELECT cand.da AS doc_a, cand.db AS doc_b, $jaccardSqlPair AS jaccard
         |FROM cand JOIN sh a ON a.doc_id = cand.da JOIN sh b ON b.doc_id = cand.db
         |WHERE $jaccardSqlPair >= $jaccardThreshold""".stripMargin
    }, headline = true)(
      (s, d) => {
        // NOT persisted (r19 ablation: 0.70→0.46 s) and NOT exchange-
        // deduped either — the r20 final-plan read shows all four
        // shingle recomputations planned independently under broadcast
        // joins (AQE stage reuse never fires across the aliased
        // copies). The recompute is parallel scan work absorbed across
        // cores; at cluster scale the floor exchange is identity and
        // the columnar scans are the honest cost of zero cache pressure.
        val sh = docShingles(s, d)
        // one-pass codegen'd signature (bit-compatible with the
        // 16-pass builtin formulation the oracle mirrors)
        val sig = sh.select(col("doc_id"), GraftFunctions.minhashSig(col("sh")).as("sig"))
        val bands = sig.select(col("doc_id"), posexplode(
          array((0 until numBands).map { b =>
            concat_ws("_", transform(
              slice(col("sig"), b * bandRows + 1, bandRows), x => x.cast("string")))
          }: _*)).as(Seq("band", "key")))
        val bandsM = bands // self-join sides dedupe via ReuseExchange
        val cand = bandsM.alias("x")
          .join(bandsM.alias("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .distinct()
        val a = sh.select(col("doc_id").as("da"), col("sh").as("sha"))
        val b = sh.select(col("doc_id").as("db"), col("sh").as("shb"))
        val inter = GraftFunctions.intersectCountSorted(col("sha"), col("shb"))
        val uni = size(col("sha")) + size(col("shb")) - inter
        cand.join(a, "da").join(b, "db")
          .withColumn("jaccard", inter.cast("double") / uni)
          .where(col("jaccard") >= jaccardThreshold)
          .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jaccard"))
      }),

    // ---- duplicated-SUBSTRING detection (the Lee-et-al-style exact
    // window dedup): every distinct 16-token window is hashed; a
    // window that also occurs in ANOTHER doc marks its doc as carrying
    // duplicated text, and the per-doc duplicated fraction is the
    // basis for span-level scrubbing. Cross-doc windows come from an
    // inverted-index equi-join on the window hash (groupBy count≥2 —
    // one shuffle), never doc×doc. ----
    QueryDef("q_dedup_substring", Some(
      s"""WITH gs AS (
         |  SELECT doc_id, ${shinglesSql("w", 16)} AS g
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents)),
         |wh AS (SELECT doc_id, list_distinct(${shingleHashesSql("g")}) AS wh FROM gs),
         |e AS (SELECT doc_id, unnest(wh) AS h FROM wh),
         |dup AS (
         |  SELECT h FROM e GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
         |SELECT w.doc_id, len(w.wh) AS n_windows,
         |  coalesce(d.n_dup, 0) AS n_dup_windows,
         |  CAST(coalesce(d.n_dup, 0) AS DOUBLE) / len(w.wh) AS dup_fraction
         |FROM wh w LEFT JOIN (
         |  SELECT e.doc_id, count(*) AS n_dup
         |  FROM e JOIN dup ON e.h = dup.h GROUP BY e.doc_id) d
         |  ON d.doc_id = w.doc_id
         |WHERE len(w.wh) > 0""".stripMargin))(
      (s, d) => {
        val wh = Tables(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .select(col("doc_id"), array_distinct(
            GraftFunctions.shingleHashes(col("w"), 16, TextOps.P)).as("wh"))
          .persist() // exploded twice below
        val e = wh.select(col("doc_id"), explode(col("wh")).as("h"))
        val dup = e.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2).select(col("h"))
        val perDoc = e.join(dup, "h")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
        wh.where(size(col("wh")) > 0)
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), size(col("wh")).cast("bigint").as("n_windows"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
            (coalesce(col("n_dup"), lit(0L)).cast("double") / size(col("wh")))
              .as("dup_fraction"))
      }),

    // ---- repeated-substring SPAN extraction (the Lee-et-al exact
    // substring dedup proper): q_dedup_substring counts duplicated
    // windows per doc; this entry GROUPS consecutive duplicated
    // 16-token window positions into maximal runs and emits each run
    // as a removable span — a repeated substring of L ≥ 16 tokens
    // shows up as L−15 consecutive duplicated windows, so a run of n
    // windows pins a span of n+15 tokens; spans under 24 tokens
    // (run < 9) are dropped as below the removal threshold. Runs come
    // from the classic gaps-and-islands trick (pos − row_number() is
    // constant within a run); the only window function partitions by
    // doc_id, so its state is bounded by one document's length — the
    // same bound the text column already imposes — and the exchange
    // it needs carries only the DUPLICATED window positions, which
    // track the corpus's duplicated bytes, not its size (measured in
    // SCALING.md). ----
    QueryDef("q_dedup_substring_spans", Some {
      // positional windows — shinglesSql's list_distinct would shift
      // positions wherever a doc repeats a window internally
      val winParts = (0 until 16).map(o => s"w[i+$o]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS w FROM documents),
         |g AS (
         |  SELECT doc_id, list_transform(range(1, greatest(len(w) - 14, 1)),
         |    i -> ${h32Sql(s"concat_ws(' ', $winParts)")} % ${TextOps.P}) AS gl
         |  FROM t),
         |wins AS (
         |  SELECT doc_id, unnest(gl) AS h,
         |    unnest(range(0, len(gl))) AS i FROM g),
         |dup AS (
         |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |dwin AS (
         |  SELECT DISTINCT wins.doc_id, wins.i
         |  FROM wins JOIN dup ON wins.h = dup.h),
         |runs AS (
         |  SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM dwin),
         |spans AS (
         |  SELECT doc_id, CAST(min(i) AS BIGINT) AS start_tok,
         |    CAST(max(i) + 15 AS BIGINT) AS end_tok,
         |    CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(max(i) - min(i) + 16 AS BIGINT) AS span_tokens
         |  FROM runs GROUP BY doc_id, grp)
         |SELECT doc_id, start_tok, end_tok, n_windows, span_tokens
         |FROM spans WHERE span_tokens >= 24""".stripMargin
    })(
      (s, d) => {
        val wins = Tables(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .select(col("doc_id"),
            posexplode(GraftFunctions.shingleHashes(col("w"), 16, TextOps.P))
              .as(Seq("i", "h")))
        val dup = wins.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2).select(col("h"))
        val dwin = wins.join(dup, "h")
          .select(col("doc_id"), col("i")).distinct()
        val runs = dwin.select(col("doc_id"), col("i"),
          (col("i") - row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("i")))).as("grp"))
        runs.groupBy(col("doc_id"), col("grp"))
          .agg(min(col("i")).cast("bigint").as("start_tok"),
            (max(col("i")) + 15).cast("bigint").as("end_tok"),
            count(lit(1)).as("n_windows"),
            (max(col("i")) - min(col("i")) + 16).cast("bigint")
              .as("span_tokens"))
          .where(col("span_tokens") >= 24)
          .select(col("doc_id"), col("start_tok"), col("end_tok"),
            col("n_windows"), col("span_tokens"))
      }),

    // ---- INCREMENTAL dedup: admit-or-reject a DELTA batch (every
    // 10th doc plays the new increment) against the already-indexed
    // BASE corpus — the production shape for daily ingestion. The
    // base's band index is built once and only JOINED against; the
    // delta's bands broadcast (increments are small relative to the
    // corpus), so each increment costs |delta bands| × bucket
    // collisions, never base×base or a corpus re-hash. Verification
    // is the same exact-Jaccard two-pointer count; docs with no
    // surviving match are admitted. ----
    QueryDef("q_dedup_incremental", Some {
      val bandKeys = (0 until numBands).map { b =>
        s"(SELECT doc_id, $b AS band, array_to_string(sig[${b * bandRows + 1}:${(b + 1) * bandRows}], '_') AS key FROM sig)"
      }.mkString("\nUNION ALL\n")
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, ${minhashSigFromHashesSql("sh")} AS sig FROM sh),
         |bands AS ($bandKeys),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS dd, y.doc_id AS db
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
         |),
         |ver AS (
         |  SELECT cand.dd, cand.db, $jaccardSqlPair AS j
         |  FROM cand JOIN sh a ON a.doc_id = cand.dd JOIN sh b ON b.doc_id = cand.db
         |  WHERE $jaccardSqlPair >= $jaccardThreshold
         |)
         |SELECT d.doc_id, coalesce(v.n, 0) AS n_dup_base, v.max_j AS max_jaccard,
         |  coalesce(v.n, 0) = 0 AS admit
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN (SELECT dd, count(*) AS n, max(j) AS max_j
         |           FROM ver GROUP BY dd) v ON v.dd = d.doc_id""".stripMargin
    })(
      (s, d) => {
        val sh = docShingles(s, d).persist()
        val sig = sh.select(col("doc_id"), GraftFunctions.minhashSig(col("sh")).as("sig"))
        val bands = sig.select(col("doc_id"), posexplode(
          array((0 until numBands).map { b =>
            concat_ws("_", transform(
              slice(col("sig"), b * bandRows + 1, bandRows), x => x.cast("string")))
          }: _*)).as(Seq("band", "key")))
        val deltaBands = bands.where(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("dd"), col("band"), col("key"))
        val baseBands = bands.where(col("doc_id") % 10 =!= 0)
          .select(col("doc_id").as("db"), col("band"), col("key"))
        val cand = broadcast(deltaBands)
          .join(baseBands, Seq("band", "key"))
          .select(col("dd"), col("db")).distinct()
        val a = sh.select(col("doc_id").as("dd"), col("sh").as("sha"))
        val b = sh.select(col("doc_id").as("db"), col("sh").as("shb"))
        val inter = GraftFunctions.intersectCountSorted(col("sha"), col("shb"))
        val uni = size(col("sha")) + size(col("shb")) - inter
        val ver = cand.join(a, "dd").join(b, "db")
          .withColumn("j", inter.cast("double") / uni)
          .where(col("j") >= jaccardThreshold)
          .groupBy(col("dd"))
          .agg(count(lit(1)).as("n"), max(col("j")).as("max_j"))
        Tables(s, d, "documents").select(col("doc_id"))
          .where(col("doc_id") % 10 === 0)
          .join(ver, col("doc_id") === col("dd"), "left")
          .select(col("doc_id"),
            coalesce(col("n"), lit(0L)).as("n_dup_base"),
            col("max_j").as("max_jaccard"),
            (coalesce(col("n"), lit(0L)) === 0).as("admit"))
      }),

    // ---- SimHash fingerprint + half-word band candidates, Hamming ≤ 1:
    // at most 1 flipped bit means at least one 16-bit half is intact
    // (pigeonhole), and 16-bit buckets are 256x finer than bytes — on a
    // similar-frequency corpus byte buckets degenerate toward O(n²). ----
    QueryDef("q_dedup_simhash", Some {
      val bandKeys = (0 until 2).map { b =>
        s"(SELECT doc_id, fp, $b AS band, (fp >> ${b * 16}) & 65535 AS key FROM fp)"
      }.mkString("\nUNION ALL\n")
      s"""WITH hs AS (
         |  SELECT doc_id, ${tokenHashesSql(tokensSql("text"))} AS h FROM documents
         |),
         |fp AS (SELECT doc_id, ${simhash32FromHashesSql("h")} AS fp FROM hs),
         |bands AS ($bandKeys)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) AS hamming
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.fp, y.fp)) <= 1""".stripMargin
    })(
      (s, d) => {
        val fp = Tables(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .select(col("doc_id"), GraftFunctions.h32Array(col("w"), 0L).as("h"))
          .select(col("doc_id"), simhash32FromHashes(col("h")).as("fp"))
          .persist() // banded self-join below
        val bands = fp.select(col("doc_id"), col("fp"), posexplode(
          array((0 until 2).map(b =>
            shiftright(col("fp"), b * 16).bitwiseAND(lit(65535L))): _*))
          .as(Seq("band", "key")))
        bands.alias("x")
          .join(bands.alias("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("bigint")
              .as("hamming"))
          .where(col("hamming") <= 1)
          .distinct()
      }),

    // ---- near-dup CLUSTERING: connected components over the
    // minhash-verified pair graph, by iterative min-label propagation
    // (the GraphX-style loop without GraphX: each round joins labels
    // across edges and takes the min; the label sum is a monotone
    // decreasing integer, so "sum unchanged" is an exact fixpoint
    // test). cluster_id = min doc_id of the component; keepers are the
    // dedup survivors. The oracle computes the same components with a
    // recursive-CTE transitive closure. ----
    QueryDef("q_dedup_clusters", Some(
      s"""WITH RECURSIVE $clustersPairsCte
         |$clustersSelect""".stripMargin))(
      // Memoized per (session, dir, layout) via FrameCache: FOUR other
      // entries compose this frame (q_dedup_canonical,
      // q_eval_cluster_stats, q_link_blocking_quality,
      // q_sample_split_cluster_safe), each of which would otherwise
      // re-run the whole minhash+LSH+verify+connected-components
      // pipeline just to read the tiny (doc_id, cluster_id, keeper)
      // labeling. The frame is |documents| rows — cheap to pin; block
      // loss evicts and rebuilds (ChaosSpec's FrameCache contract).
      (s, d) => graft.ops.FrameCache.memo(s,
        s"dedup:clusters:$d:${s.conf.get("spark.sql.shuffle.partitions")}") {
        // reuse the minhash-LSH pair pipeline for the edge set.
        // Round-20: the sh/bands persists are DROPPED (and the shingle
        // array fenced) — the edge frame's single materializing action
        // (edges.count() inside ConnectedComponents) had all 32 tasks
        // racing the two lazy caches' per-block locks, the same
        // pathology as the ngram headline: 9.5 CPU-s of task run time
        // on a 0.6 CPU-s computation (stage profile, r20). Recomputing
        // the band pipeline per union side is parallel scan work and
        // measures faster at both core counts; `edges` stays persisted
        // (the CC loop reads it every round, and its count() builds
        // the cache race-free before any concurrent consumer exists).
        val sh = docShingles(s, d, fence = true)
        val sig = sh.select(col("doc_id"), GraftFunctions.minhashSig(col("sh")).as("sig"))
        val bandsDf = sig.select(col("doc_id"), posexplode(
          array((0 until numBands).map { b =>
            concat_ws("_", transform(
              slice(col("sig"), b * bandRows + 1, bandRows), x => x.cast("string")))
          }: _*)).as(Seq("band", "key")))
        val cand = bandsDf.alias("x")
          .join(bandsDf.alias("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .distinct()
        val fa = sh.select(col("doc_id").as("da"), col("sh").as("sha"))
        val fb = sh.select(col("doc_id").as("db"), col("sh").as("shb"))
        val inter = GraftFunctions.intersectCountSorted(col("sha"), col("shb"))
        val uni = size(col("sha")) + size(col("shb")) - inter
        val pairs = cand.join(fa, "da").join(fb, "db")
          .where(inter.cast("double") / uni >= jaccardThreshold)
          .select(col("da"), col("db"))
        // both orientations of each undirected edge via a ROW-LOCAL
        // explode, not union(pairs, pairs.swap): the union form ran
        // the whole candidate+verify pipeline once PER SIDE (12.7
        // CPU-s of the 13.5 the memo build cost — stage profile, r20);
        // the explode emits (a,b) and (b,a) from one verified row.
        val edges = pairs.select(explode(array(
            struct(col("da").as("a"), col("db").as("b")),
            struct(col("db").as("a"), col("da").as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .persist()
        // the iterative label-propagation / pointer-doubling loop lives
        // in graft.ops.ConnectedComponents (reliable per-round
        // checkpoint — survives executor loss; see its doc + ChaosSpec)
        val labels = graft.ops.ConnectedComponents.labels(s, edges)
        Tables(s, d, "documents").select(col("doc_id"))
          .join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"),
            (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("is_keeper"))
          .localCheckpoint(true) // materialize once for the memo
      })
  ,

    // ---- embedding cosine near-dup (exact thresholded pairs) ----
    // Exact dense similarity join is inherently Θ(n²) COMPUTE, but it
    // must not be Θ(n²) MEMORY or a whole-corpus broadcast. The plan
    // here is the triangle-blocked all-pairs join: every vector lands
    // in one of B hash blocks, each unordered block pair (i ≤ j)
    // becomes one task via a two-column EQUI-join on (bi, bj) — so
    // Catalyst plans a hash join (never BroadcastNestedLoopJoin), each
    // task holds only two blocks (~n/B rows each, B scales with the
    // cluster), and shuffle volume is B·n rows. An unordered vector
    // pair meets in exactly one task: off-diagonal via its block ids,
    // on the diagonal deduped by va < vb. When approximate recall
    // suffices at corpus scale, q_ann_lsh_hyperplane is the
    // subquadratic path (at this fixture's 0.45 threshold — inside the
    // random-cosine tail — banding cannot reach recall 1, so the exact
    // operator stays the reference semantics).
    QueryDef("q_dedup_embedding", Some(
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosineDSql("a.v", "b.v")} AS cos_sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${cosineDSql("a.v", "b.v")} >= 0.45""".stripMargin))(
      (s, d) => {
        val blocks = embeddingBlocks(s)
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", GraftFunctions.norm(col("v")))
          .withColumn("blk", pmod(col("vec_id"), lit(blocks)).cast("int"))
          .persist() // both sides of the pair join
        val left = e.select(col("vec_id").as("va"), col("v").as("av"),
            col("nrm").as("an"), col("blk").as("bi"))
          .withColumn("bj", explode(sequence(col("bi"), lit(blocks - 1))))
        val right = e.select(col("vec_id").as("vb"), col("v").as("bv"),
            col("nrm").as("bn"), col("blk").as("bj"))
          .withColumn("bi", explode(sequence(lit(0), col("bj"))))
        left.join(right, Seq("bi", "bj"))
          // diagonal tasks see both orderings of a pair; keep one
          .where(col("bi") =!= col("bj") || col("va") < col("vb"))
          .withColumn("cos_sim",
            GraftFunctions.dot(col("av"), col("bv")) / (col("an") * col("bn")))
          .where(col("cos_sim") >= 0.45)
          // dot/norms are order-symmetric bit-for-bit (per-index
          // products commute), so canonicalizing ids is safe
          .select(least(col("va"), col("vb")).as("vec_a"),
            greatest(col("va"), col("vb")).as("vec_b"), col("cos_sim"))
      }),

    // ---- SEMANTIC dedup (SemDeDup-shaped, Abbas et al.
    // arXiv:2303.09540): k-means-style cluster assignment first, then
    // near-dup pairs only WITHIN each cluster — the subquadratic route
    // for corpora where exact all-pairs (`q_dedup_embedding`) is
    // unaffordable. With cluster size bounded at c, total compute is
    // Θ(n·c), not Θ(n²), and the pair join is a plain equi-join on the
    // cluster id (skew = largest cluster; k grows with the corpus to
    // keep c fixed).
    //
    // Scale shape: centroids are a training artifact (k rows) —
    // broadcast; assignment is argmin over the broadcast via a
    // map-side-combined `min_by` groupBy (the shuffle carries n
    // pre-reduced rows, never the n·k candidate grid — unlike a
    // window, which would shuffle AND sort all n·k). A vector is a
    // keeper unless some same-cluster smaller-id vector is within the
    // cosine threshold. All double math is the sequential fold shared
    // with the oracle — bit-identical, so the >= compare is exact. ----
    QueryDef("q_dedup_semantic", Some(
      s"""WITH ${SimilarityQueries.centCtesSql},
         |asg AS (
         |  SELECT vec_id, code AS cluster, v FROM (
         |    SELECT n.vec_id, cent.code, n.v,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        ${dotDSql("n.v", "n.v")} - 2.0 * ${dotDSql("n.v", "cent.centroid")}
         |          + ${dotDSql("cent.centroid", "cent.centroid")}, cent.code) AS rn
         |    FROM n, cent) WHERE rn = 1),
         |dup AS (
         |  SELECT b.vec_id AS dup_id
         |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${cosineDSql("a.v", "b.v")} >= $semThreshold
         |  GROUP BY b.vec_id)
         |SELECT asg.vec_id, asg.cluster, (dup.dup_id IS NULL) AS is_keeper
         |FROM asg LEFT JOIN dup ON dup.dup_id = asg.vec_id""".stripMargin))(
      (s, d) => {
        val n = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val cent = SimilarityQueries.centroidsOf(n, "label")
        val asg = n.crossJoin(broadcast(cent))
          .withColumn("d2",
            GraftFunctions.dot(col("v"), col("v"))
              - lit(2.0) * GraftFunctions.dot(col("v"), col("centroid"))
              + GraftFunctions.dot(col("centroid"), col("centroid")))
          // argmin with (d2, code) tie-break == the oracle's
          // row_number ordering; partial agg collapses the k
          // candidates per vector before the shuffle
          .groupBy(col("vec_id"))
          .agg(min_by(struct(col("code"), col("v")),
            struct(col("d2"), col("code"))).as("m"))
          .select(col("vec_id"), col("m.code").as("cluster"), col("m.v").as("v"),
            GraftFunctions.norm(col("m.v")).as("nrm"))
          .persist() // both sides of the within-cluster pair join
        val a = asg.select(col("cluster"), col("vec_id").as("ia"),
          col("v").as("av"), col("nrm").as("an"))
        val b = asg.select(col("cluster"), col("vec_id").as("ib"),
          col("v").as("bv"), col("nrm").as("bn"))
        val dup = a.join(b, Seq("cluster"))
          .where(col("ia") < col("ib") &&
            GraftFunctions.dot(col("av"), col("bv")) / (col("an") * col("bn"))
              >= semThreshold)
          .select(col("ib").as("dup_id")).distinct()
        asg.join(dup, col("vec_id") === col("dup_id"), "left")
          .select(col("vec_id"), col("cluster"),
            col("dup_id").isNull.as("is_keeper"))
      }),

    // ---- CONTAINMENT dedup (asymmetric Jaccard): flags doc A whose
    // shingle set is ≥90% inside doc B — quote-wrappers, boilerplate-
    // padded mirrors, and excerpt pages that symmetric Jaccard misses
    // (a small doc inside a big one has LOW Jaccard but TOTAL
    // containment). Threshold compare is exact integers
    // (10·inter ≥ 9·|A|). Candidates come from the inverted index
    // with the containment prefix rule: a qualifying A must share one
    // of its |A| − ceil(0.9|A|) + 1 RAREST shingles (rarity ranking
    // keeps the joined postings short); only the contained side is
    // prefix-limited — the container side joins its full postings,
    // which is what makes the asymmetric bound correct. Verification
    // is the codegen'd two-pointer intersection over the full sorted
    // sets, candidates only. ----
    QueryDef("q_dedup_containment", Some(
      s"""$shinglesCte
         |SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
         |  len(list_intersect(a.sh, b.sh)) AS n_shared,
         |  len(a.sh) AS n_small, len(b.sh) AS n_big
         |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         |WHERE len(a.sh) > 0
         |  AND 10 * len(list_intersect(a.sh, b.sh)) >= 9 * len(a.sh)""".stripMargin))(
      (s, d) => {
        val sh = docShingles(s, d).where(size(col("sh")) > 0).persist()
        val ex = sh.select(col("doc_id"), size(col("sh")).as("sz"),
          explode(col("sh")).as("shingle"))
        val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
        val wDoc = Window.partitionBy(col("doc_id"))
        val ranked = ex.join(dfreq, "shingle")
          .select(col("doc_id"), col("shingle"), col("sz"),
            (row_number().over(wDoc.orderBy(col("df").asc, col("shingle").asc)) - 1)
              .as("pos"))
        // prefix bound for containment at t = 9/10: ceil(9·sz/10) via
        // (9·sz+9) div 10 — exact integer arithmetic
        val prefixA = ranked
          .where(col("pos") < expr("CAST(sz - ((sz*9+9) div 10) + 1 AS INT)"))
          .select(col("doc_id").as("da"), col("shingle"))
        val postings = ranked.select(col("doc_id").as("db"), col("shingle"))
        val cand = prefixA.join(postings, "shingle")
          .where(col("da") =!= col("db"))
          .select(col("da"), col("db")).distinct()
        cand
          .join(sh.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
          .join(sh.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
          .select(col("da").as("doc_small"), col("db").as("doc_big"),
            GraftFunctions.intersectCountSorted(col("sha"), col("shb"))
              .as("n_shared"),
            size(col("sha")).cast("bigint").as("n_small"),
            size(col("shb")).cast("bigint").as("n_big"))
          .where(lit(10) * col("n_shared") >= lit(9) * col("n_small"))
      }),

    // ---- pairwise SOURCE overlap matrix: distinct 5-gram shingles
    // per source, then |A∩B| and Jaccard for every source pair — the
    // corpus diagnostic that finds mirror sites / re-crawls BEFORE
    // doc-level dedup runs. Same inverted-index shape as the dedup
    // family: the pair join is an equi-join on the shingle hash, so a
    // shingle shared by k sources costs k² pair rows (bounded by
    // sources², never docs²); per-source distincts are one shuffle.
    // Jaccard is one integer division — exact parity. ----
    QueryDef("q_text_source_overlap", Some(
      s"""WITH gs AS (
         |  SELECT source, ${shinglesSql("w", 5)} AS g
         |  FROM (SELECT source, ${tokensSql("text")} AS w FROM documents)),
         |sh AS (
         |  SELECT DISTINCT source, t.h AS h
         |  FROM gs, unnest(${shingleHashesSql("g")}) AS t(h)),
         |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         |ix AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT ix.src_a, ix.src_b, za.n AS n_a, zb.n AS n_b, ix.n_common,
         |  CAST(ix.n_common AS DOUBLE)
         |    / CAST(za.n + zb.n - ix.n_common AS DOUBLE) AS jaccard
         |FROM ix JOIN sz za ON za.source = ix.src_a
         |  JOIN sz zb ON zb.source = ix.src_b""".stripMargin))(
      (s, d) => {
        val sh = Tables(s, d, "documents")
          .select(col("source"), tokens(col("text")).as("w"))
          .select(col("source"), explode(array_distinct(
            GraftFunctions.shingleHashes(col("w"), 5, TextOps.P))).as("h"))
          .distinct()
          .persist() // both sides of the pair join + the size frame
        val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val a = sh.select(col("source").as("src_a"), col("h"))
        val b = sh.select(col("source").as("src_b"), col("h"))
        val ix = a.join(b, Seq("h")).where(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_common"))
        ix.join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
          .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
            (col("n_common").cast("double")
              / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
              .as("jaccard"))
      }),

    // ---- span REMOVAL (remediation twin of q_dedup_substring's
    // detection): every token covered by a 16-token window that also
    // appears in another doc is dropped, and the doc is rewritten
    // from its surviving tokens — the RefinedWeb/Dolma-style "cut the
    // boilerplate out, keep the rest" pass, not a whole-doc kill.
    // Windows are positional hashes (graft_shingle_hashes keeps
    // duplicates and order), so window i covers tokens [i, i+15].
    // Scale: dup-window detection is the inverted-index groupBy from
    // the detection query; coverage explodes dup windows only (16×
    // the MATCHED windows, not the corpus); the rewrite is one
    // anti-join on (doc, pos) plus a per-doc sort of that doc's own
    // surviving tokens (collect_list state is bounded by the doc
    // length, the same bound the text column itself already imposes).
    QueryDef("q_dedup_span_removal", Some {
      val winParts = (0 until 16).map(o => s"w[i+$o]").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, ${tokensSql("text")} AS w FROM documents),
         |g AS (
         |  SELECT doc_id, list_transform(range(1, greatest(len(w) - 14, 1)),
         |    i -> ${h32Sql(s"concat_ws(' ', $winParts)")} % ${TextOps.P}) AS gl
         |  FROM t),
         |wins AS (
         |  SELECT doc_id, unnest(gl) AS h,
         |    unnest(range(0, len(gl))) AS i FROM g),
         |dup AS (
         |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT wins.doc_id, unnest(range(wins.i, wins.i + 16)) AS pos
         |    FROM wins JOIN dup ON wins.h = dup.h)),
         |tok AS (
         |  SELECT doc_id, unnest(w) AS tok,
         |    unnest(range(0, len(w))) AS pos FROM t),
         |kept AS (
         |  SELECT tok.doc_id, tok.tok, tok.pos
         |  FROM tok LEFT JOIN cov
         |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
         |  WHERE cov.doc_id IS NULL),
         |a AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, len(t.w) AS n_tokens,
         |  coalesce(a.n_kept, 0) AS n_kept,
         |  len(t.w) - coalesce(a.n_kept, 0) AS n_dropped,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM t LEFT JOIN a ON a.doc_id = t.doc_id""".stripMargin
    })(
      (s, d) => {
        val base = Tables(s, d, "documents")
          .select(col("doc_id"), tokens(col("text")).as("w"))
          .persist() // windows, token stream, and final doc list
        val wins = base.select(col("doc_id"),
          posexplode(GraftFunctions.shingleHashes(col("w"), 16, TextOps.P))
            .as(Seq("i", "h")))
        val dup = wins.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2).select(col("h"))
        val cov = wins.join(dup, "h")
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + 15)).as("pos"))
          .distinct()
        val tok = base.select(col("doc_id"),
          posexplode(col("w")).as(Seq("pos", "tok")))
        val kept = tok.join(cov, Seq("doc_id", "pos"), "left_anti")
        val agg = kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(
              transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                x => x.getField("tok")), " ").as("clean_text"))
        base.select(col("doc_id"), size(col("w")).cast("bigint").as("n_tokens"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
      }),

    // ---- decontamination SCRUB (remediation twin of
    // q_dedup_decontaminate's detection): instead of flagging
    // contaminated docs, REMOVE the contaminated 5-token windows and
    // rewrite the doc — the "train on the rest" pass a pipeline runs
    // when whole-doc drops would cost too much data. Same asymmetric
    // split as the detection entry (hash buckets ≥95 = held-out eval
    // set, <95 = training corpus); the rewrite machinery is
    // q_dedup_span_removal's coverage anti-join, but the dup-window
    // set is the BROADCAST eval-set index rather than a cross-corpus
    // groupBy — the corpus streams map-side against a benchmark-sized
    // hash set, never shuffling for the membership test, which is the
    // 100 TB shape. Window i covers tokens [i, i+4]. ----
    QueryDef("q_dedup_decontam_scrub", Some {
      val winParts = (0 until 5).map(o => s"w[i+$o]").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id, ${h32Sql("text")} % 100 AS bucket,
         |    ${tokensSql("text")} AS w FROM documents),
         |g AS (
         |  SELECT doc_id, bucket,
         |    list_transform(range(1, greatest(len(w) - 3, 1)),
         |      i -> ${h32Sql(s"concat_ws(' ', $winParts)")} % ${TextOps.P})
         |      AS gl
         |  FROM t),
         |wins AS (
         |  SELECT doc_id, bucket, unnest(gl) AS h,
         |    unnest(range(0, len(gl))) AS i FROM g),
         |ev AS (SELECT DISTINCT h FROM wins WHERE bucket >= 95),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT w2.doc_id, unnest(range(w2.i, w2.i + 5)) AS pos
         |    FROM wins w2 JOIN ev ON w2.h = ev.h WHERE w2.bucket < 95)),
         |tok AS (
         |  SELECT doc_id, unnest(w) AS tok,
         |    unnest(range(0, len(w))) AS pos FROM t WHERE bucket < 95),
         |kept AS (
         |  SELECT tok.doc_id, tok.tok, tok.pos
         |  FROM tok LEFT JOIN cov
         |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
         |  WHERE cov.doc_id IS NULL),
         |a AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, len(t.w) AS n_tokens,
         |  coalesce(a.n_kept, 0) AS n_kept,
         |  len(t.w) - coalesce(a.n_kept, 0) AS n_dropped,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM t LEFT JOIN a ON a.doc_id = t.doc_id
         |WHERE t.bucket < 95""".stripMargin
    })(
      (s, d) => {
        val t = Tables(s, d, "documents")
          .select(col("doc_id"), pmod(h32(col("text")), lit(100L)).as("bucket"),
            tokens(col("text")).as("w"))
          .persist() // eval index, train windows, token stream, doc list
        val wins = t.select(col("doc_id"), col("bucket"),
          posexplode(GraftFunctions.shingleHashes(col("w"), 5, TextOps.P))
            .as(Seq("i", "h")))
        val ev = wins.where(col("bucket") >= 95).select(col("h")).distinct()
        val cov = wins.where(col("bucket") < 95)
          .join(broadcast(ev), "h")
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + 4)).as("pos"))
          .distinct()
        val train = t.where(col("bucket") < 95)
        val tok = train.select(col("doc_id"),
          posexplode(col("w")).as(Seq("pos", "tok")))
        val kept = tok.join(cov, Seq("doc_id", "pos"), "left_anti")
        val agg = kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(
              transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                x => x.getField("tok")), " ").as("clean_text"))
        train.select(col("doc_id"), size(col("w")).cast("bigint").as("n_tokens"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
      }),

    // ---- canonical selection per duplicate cluster: the release
    // keep-list — for every LSH cluster keep its LONGEST member
    // (n_chars, tie → smallest doc_id), the standard near-dup
    // remediation heuristic (the longest variant usually subsumes the
    // truncated copies). Composes q_dedup_clusters on BOTH the plan
    // and oracle side, so the keep-list can never drift from the
    // clustering it reads. The argmax is the engine's sort-free
    // shape: (n_chars, doc_id) packed into ONE order-preserving
    // BIGINT (n_chars·2^33 − doc_id — injective while doc_id < 2^33),
    // so the per-cluster winner is a primitive max() HashAggregate
    // plus a join-back on the encoded value — no rank window, no
    // struct-buffer SortAggregate (the q_migrate_cdc_apply lesson). ----
    QueryDef("q_dedup_canonical", Some(
      s"""WITH RECURSIVE $clustersPairsCte,
         |cl AS ($clustersSelect),
         |m AS (
         |  SELECT cl.cluster_id, d.doc_id, d.n_chars,
         |    d.n_chars * 8589934592 - d.doc_id AS enc
         |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
         |best AS (
         |  SELECT cluster_id, CAST(max(enc) AS BIGINT) AS benc,
         |    count(*) AS sz
         |  FROM m GROUP BY cluster_id)
         |SELECT b.cluster_id,
         |  m.doc_id AS keeper_doc_id,
         |  m.n_chars AS keeper_n_chars,
         |  CAST(b.sz AS BIGINT) AS cluster_size,
         |  CAST(b.sz - 1 AS BIGINT) AS n_removed
         |FROM best b
         |JOIN m ON m.cluster_id = b.cluster_id AND m.enc = b.benc""".stripMargin))(
      (s, d) => {
        val cl = QueryDef.requireDef(defs, "q_dedup_clusters",
          "q_dedup_canonical").fn(s, d)
        val m = cl.join(Tables(s, d, "documents")
            .select(col("doc_id"), col("n_chars")), "doc_id")
          .select(col("cluster_id"), col("doc_id"), col("n_chars"),
            (col("n_chars") * 8589934592L - col("doc_id")).as("enc"))
          // persisted: the argmax join-back reads m twice — without it
          // the UPSTREAM connected-components loop also runs twice
          .persist()
        val best = m.groupBy(col("cluster_id"))
          .agg(max(col("enc")).as("benc"), count(lit(1)).as("sz"))
        best.join(m, best("cluster_id") === m("cluster_id")
            && best("benc") === m("enc"))
          .select(best("cluster_id"), col("doc_id").as("keeper_doc_id"),
            col("n_chars").as("keeper_n_chars"),
            col("sz").cast("bigint").as("cluster_size"),
            (col("sz") - 1).cast("bigint").as("n_removed"))
      })
  )
}
