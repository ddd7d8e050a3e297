"""Deduplication operators over the documents table (north-star module;
closest reference seeds: utils/adt/levenshtein.c fuzzy matching and the
distinct/dedup executor machinery).

Scale design: every variant is a groupBy/join on a derived key — no
cross join of the corpus. MinHash-LSH gives candidate generation at
O(n·k) with banding; exact n-gram Jaccard runs only on candidates that
share a shingle (blocked self-join).

Cross-engine determinism: signature hashes are `min(md5(salt || shingle))`
under lexicographic order — md5 is identical everywhere and min-of-string
is a valid minhash permutation, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from warehouse_pg_spark.queries.registry import register, table, table_bytes

_NUM_HASHES = 8
_SALTS = [f"s{i}:" for i in range(_NUM_HASHES)]


def _norm_text(col):
    """lower, strip non-alnum (keep spaces), collapse whitespace.

    ONE regex pass: any maximal run of non-[a-z0-9] characters becomes
    a single space — string-identical to the two-step form (replace
    [^a-z0-9 ] then collapse \\s+: step 1 already turns every
    whitespace char into ' ', so step 2 only ever collapses spaces).
    Certified equal over every fixture document and halves the regex
    CPU on the hottest map path (r17: text_quality −38%,
    pipeline −23% interleaved A/B). The oracle _NORM_SQL keeps the
    two-step form on purpose — an independent reconstruction."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


_NORM_SQL = "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))"


@register(
    "dedup_exact",
    oracle="""
    SELECT keep_id, n_copies FROM (
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text)
    ) t
    """,
    tags=("dedup", "bench"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest, keep lowest doc_id.

    At 100 TB this is the cheapest dedup: one shuffle on md5(text)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select("keep_id", "n_copies")


@register(
    "dedup_fingerprint",
    oracle=f"""
    SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp FROM documents) t
    GROUP BY fp HAVING COUNT(*) > 1
    """,
    tags=("dedup",),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint dedup (casefold + punctuation strip
    + whitespace collapse → md5). Catches near-exact duplicates."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(_norm_text(F.col("text"))).alias("fp")
    return (
        d.select("doc_id", fp)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _shingles(colname: str, n: int = 3):
    """Word n-gram shingles of normalized text (array of strings).

    The words array is let-bound as a lambda variable (transform over a
    singleton array) so the regex-normalize + split subtree evaluates
    ONCE per document. Referencing it directly inside the per-window
    lambda would re-evaluate that subtree for EVERY window — higher-
    order-function lambdas are interpreted with no common-subexpression
    elimination, which made shingling quadratic in document length
    (found at the sf10 scale check: 32 cores pinned in RegExpReplace).

    Built as ONE SQL-string expression (one py4j round-trip + JVM
    parse) instead of ~30 nested Column-API round-trips; the parsed
    expression tree is identical (r18 driver-overhead work).
    """
    ident = "`" + colname.replace("`", "``") + "`"
    # shingle i = ws[i..i+n-1] joined; sequence over 0..len-n
    return F.expr(
        f"element_at(transform(array("
        f"split(trim(regexp_replace(lower({ident}), '[^a-z0-9]+', ' ')), ' ')"
        f"), ws -> array_distinct(transform("
        f"sequence(0, greatest(size(ws) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(ws, i + 1, {n}))))), 1)"
    )


_SHINGLES_SQL = """
list_distinct(list_transform(
  range(0, greatest(len(words) - 3, 0) + 1),
  i -> array_to_string(words[i+1:i+3], ' ')
))
"""

# Document-frequency cap: shingles appearing in more than this many
# documents are dropped before the blocked self-join. A single hot
# shingle ("click here to ...") otherwise produces a df² candidate
# bucket — the classic 100 TB blow-up. Hot shingles carry no
# discriminative signal for near-dup detection, so dropping them is the
# standard mitigation (same trick MinHash-LSH pipelines use).
_DF_CAP = 100

# SQL fragment mirroring the cap (inserted after an `sh` CTE): keeps
# only shingles whose document frequency is <= cap.
_DF_CAP_SQL = f"""
      hot AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {_DF_CAP}
    ), shk AS (
      SELECT sh.doc_id, sh.shingle FROM sh ANTI JOIN hot USING (shingle)
    )
"""


def ngram_jaccard_pairs(
    d: DataFrame,
    df_cap: int = _DF_CAP,
    threshold: float = 0.2,
    grouped: bool = False,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs over a documents frame
    (doc_id, text). Blocked on shared shingles, with hot shingles
    (df > df_cap) dropped first so no bucket exceeds df_cap² candidates.

    Two physical strategies for the candidate-pair stage, same rows:

    - grouped=False (small inputs): self-join on shingle. While the
      shingle table fits the broadcast threshold this is a codegen'd
      broadcast hash join with ZERO shuffles — 2× faster than the
      grouped form at sf0.1 (r17 A/B: 3.3 s vs 6.2 s).
    - grouped=True (large inputs): groupBy(shingle) + collect_list +
      in-group pair explosion — ONE shuffle of the shingle table where
      the outgrown self-join pays two (sort-merge both sides). r18 A/B
      at sf1: 5.0 s vs 6.9 s median (−28%), rows identical. The
      per-group explosion is bounded by df_cap² because hot shingles
      were dropped first.

    Callers pick via the documents table's on-disk size (the catalog-
    stats stand-in); the measured crossover sits between the 0.4 MB
    sf0.1 staging and the 4.5 MB sf1 staging."""
    # No distinct: _shingles applies array_distinct per document, so the
    # exploded (doc_id, shingle) rows are unique by construction — the
    # distinct here was a full extra shuffle of the largest intermediate
    # (r17; pinned by test_shingle_rows_unique_by_construction).
    sh_all = (
        d.select("doc_id", F.explode(_shingles("text")).alias("shingle"))
        .cache()
    )
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh_all.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if grouped:
        groups = sh.groupBy("shingle").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids")
        )
        pairs = groups.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a_id, i: F.transform(
                            F.slice(
                                F.col("ids"), i + 2, F.size(F.col("ids"))
                            ),
                            lambda b_id: F.struct(
                                a_id.alias("id_a"), b_id.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.id_a", "p.id_b")
        common = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("c"))
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
            )
            .agg(F.count("*").alias("c"))
        )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("c")
    )
    return (
        common.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM norm
    ), {_DF_CAP_SQL}, sizes AS (
      SELECT doc_id, COUNT(DISTINCT shingle) AS sz FROM shk GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(DISTINCT a.shingle) AS c
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.2
    """,
    tags=("dedup", "similarity"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.2).

    Blocked self-join on shared shingles — pairs with zero overlap are
    never materialized, so cost tracks true near-duplicates, not n² —
    with hot shingles (document frequency > 100) dropped before the
    join so no bucket exceeds df_cap²."""
    # Fixture files are a single row group → one scan task; fan the
    # CPU-heavy shingle stage across all cores first (cheap shuffle of
    # the small input); the shared shingle set is cached inside
    # ngram_jaccard_pairs (ShareInputScan analogue,
    # reference nodeShareInputScan.c:1-35).
    par = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    # Strategy switch on the catalog-stats stand-in (see
    # ngram_jaccard_pairs): self-join while the shingle table
    # broadcasts, grouped pair explosion once it would shuffle.
    return ngram_jaccard_pairs(
        d, grouped=table_bytes(sf_dir, "documents") > 2 << 20
    )


def _minhash_sig_cols():
    """k minhash components: min over shingles of md5(salt_i || shingle).

    Built as SQL-string expressions: ONE py4j round-trip + JVM parse
    per component instead of ~5 Column-API round-trips each. The
    parsed expression tree is identical (r18 driver-overhead work —
    36% of the sf0.1 bench total was py4j/plan-construction time)."""
    return [
        F.expr(f"min(md5('{s}' || shingle)) AS h{i}")
        for i, s in enumerate(_SALTS)
    ]


_MINHASH_SIG_SQL = ",\n".join(
    f"MIN(md5('{s}' || shingle)) AS h{i}" for i, s in enumerate(_SALTS)
)


def _band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bval) LSH band rows — ONE explode over the cached
    signature table instead of a (k/2)-way unionByName of selects, so
    each consumer scans sig once instead of k/2 times (r17: −24%
    interleaved A/B on dedup_minhash_lsh, identical rows).

    `inline` generates the struct fields as columns directly — same
    Generate node, no struct-extraction Project — and the whole band
    list is ONE parsed SQL expression instead of ~40 Column-API py4j
    round-trips (r18 driver-overhead work)."""
    structs = ", ".join(
        f"named_struct('band', {i}, 'bval', h{2*i} || h{2*i+1})"
        for i in range(_NUM_HASHES // 2)
    )
    return sig.selectExpr("doc_id", f"inline(array({structs}))")


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM norm
    ), sig AS (
      SELECT doc_id, {_MINHASH_SIG_SQL}
      FROM sh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, h0 || h1 AS bval FROM sig UNION ALL
      SELECT doc_id, 1, h2 || h3 FROM sig UNION ALL
      SELECT doc_id, 2, h4 || h5 FROM sig UNION ALL
      SELECT doc_id, 3, h6 || h7 FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT cand.id_a, cand.id_b,
           ROUND((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END +
                  CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) / 8.0, 6) AS est_jaccard
    FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
              JOIN sig sb ON sb.doc_id = cand.id_b
    """,
    tags=("dedup", "minhash", "bench"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates (k=8 hashes, 4 bands × 2).

    Signature component i = min over shingles of md5('s{i}:'||shingle) —
    a lexicographic minhash that's engine-portable and deterministic.
    Candidates = pairs agreeing on any band; est_jaccard = matching
    signature fraction. Scales as O(n·k) + bucket-local joins."""
    # Parallelize the shingle+md5 stage (single-row-group input) and
    # cache the signature table: it feeds the band build AND both sides
    # of the candidate verification join (3 consumers).
    par = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    # No distinct on the exploded shingles: rows are unique by
    # construction (array_distinct per doc) and every signature
    # component is a MIN — duplicate-insensitive even in principle.
    # Removing it removed a full shuffle of the shingle table ahead of
    # the signature agg (r17: −19% interleaved A/B, rows identical).
    sh = d.select(
        "doc_id", F.explode(_shingles("text")).alias("shingle")
    )
    sig = sh.groupBy("doc_id").agg(*_minhash_sig_cols()).cache()

    bands = _band_table(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(_NUM_HASHES)
    )
    return (
        cand.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .selectExpr(
            "id_a",
            "id_b",
            f"round(({matches}) / {float(_NUM_HASHES)}, 6) AS est_jaccard",
        )
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS words
      FROM documents
    ), tok AS (
      SELECT DISTINCT doc_id, unnest(words) AS token FROM norm WHERE len(words) > 0
    ), bits AS (
      SELECT doc_id, md5(token) AS h FROM tok
    ), digits AS (
      SELECT doc_id,
             strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS d0,
             strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS d1,
             strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS d2,
             strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS d3
      FROM bits
    )
    SELECT doc_id,
           CAST(
             (CASE WHEN SUM(CASE WHEN d0 // 8 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 2048 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d0 // 4 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 1024 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d0 // 2 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 512 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d0 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 256 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d1 // 8 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 128 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d1 // 4 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 64 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d1 // 2 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 32 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d1 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 16 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d2 // 8 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 8 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d2 // 4 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 4 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d2 // 2 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 2 ELSE 0 END) +
             (CASE WHEN SUM(CASE WHEN d2 % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS simhash
    FROM digits GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bit SimHash per document from token md5 bits.

    Bit b of the fingerprint = sign of sum over distinct tokens of
    (+1 / -1) per token-hash bit b. Pure integer arithmetic on md5 hex
    digits → engine-portable. Near-dups = small Hamming distance."""
    par = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    words = F.split(_norm_text(F.col("text")), " ")
    tok = (
        d.select("doc_id", F.explode(words).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    h = F.md5("token")
    digits = tok.select(
        "doc_id",
        *[
            (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1).alias(
                f"d{i}"
            )
            for i in range(3)
        ],
    )
    bit_terms = []
    weight = 2048
    for digit_idx in range(3):
        for shift in (8, 4, 2, 1):
            bit = (F.col(f"d{digit_idx}") / F.lit(shift)).cast("int") % 2
            term = F.when(
                F.sum(F.when(bit == 1, 1).otherwise(-1)) > 0, F.lit(weight)
            ).otherwise(0)
            bit_terms.append(term)
            weight //= 2
    simhash = sum(bit_terms[1:], bit_terms[0]).cast("long").alias("simhash")
    return digits.groupBy("doc_id").agg(simhash)


def _propagate_min_labels(edges: DataFrame, max_rounds: int = 19) -> DataFrame:
    """Min-label propagation to fixpoint over (src, dst) edges (both
    orientations present) → (node, label) with label = component min.

    Round 1 is fused into the initialization: with identity labels the
    first neighbor-min join is just min(dst) per src, so a full round's
    distinct + join + left-join + checkpoint + count collapses into ONE
    aggregation (r17: −9% interleaved A/B, rows identical). No
    changed-count needed there — a non-empty graph always runs round 2,
    which detects convergence as before. The propagation cap stays at
    1 + max_rounds total applications; exhausting it with labels still
    changing RAISES instead of silently returning non-converged (wrong)
    cluster ids (r17 advice) — a component whose diameter exceeds the
    cap is a data regime the operator was not sized for, and an error
    beats wrong output."""
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("node"), "label")
    )
    changed = 0
    for _ in range(max_rounds):  # cap >> expected diameter
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry old+new label through ONE checkpointed frame so the
        # convergence check is a filter-count on it, not an extra join.
        # Lazy checkpoint: the count() below materializes it, so each
        # round costs ONE action instead of an eager-checkpoint job
        # plus a count job (~0.3s/invocation at sf0.1, r17).
        merged = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)  # cut lineage at next action
        )
        changed = merged.filter(
            F.col("label") != F.col("old_label")
        ).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"label propagation exhausted its {1 + max_rounds}-application "
            f"cap with {changed} labels still changing — component diameter "
            "exceeds the cap; raise max_rounds rather than emit wrong "
            "cluster ids"
        )
    return labels


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE norm AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM norm
    ), {_DF_CAP_SQL}, sizes AS (
      SELECT doc_id, COUNT(DISTINCT shingle) AS sz FROM shk GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(DISTINCT a.shingle) AS c
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), edges1 AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.2
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM edges1
      UNION SELECT id_b, id_a FROM edges1
    ), reach(src, dst) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    """,
    tags=("dedup", "graph", "recursive", "bench"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the
    word-3-gram Jaccard candidate graph (threshold 0.2), cluster id =
    min doc_id in the component. The iterative min-label propagation is
    the RecursiveUnion fixpoint (nodeRecursiveunion.c) applied to
    graphs — each round one shuffle-join of labels against edges;
    converges in component-diameter rounds. At 100 TB this is the
    standard large-scale dedup-cluster algorithm (alternating
    small-star/large-star is the same loop with smarter edges)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    # Both edge orientations exploded from ONE evaluation of the pairs
    # subtree. The previous unionAll(pairs, pairs.swapped) re-ran the
    # whole candidate self-join + Jaccard verification once per branch
    # (only the shingle scan behind it is cached), and its .distinct()
    # was a pure extra shuffle — (id_a < id_b) pairs are unique, so both
    # orientations are too (r17: −15% interleaved A/B, rows identical).
    edges = pairs.selectExpr(
        "inline(array(named_struct('src', id_a, 'dst', id_b), "
        "named_struct('src', id_b, 'dst', id_a)))"
    ).cache()
    labels = _propagate_min_labels(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL.format(c='text')}, ' ') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM norm
    ), sig AS (
      SELECT doc_id, {_MINHASH_SIG_SQL}
      FROM sh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, h0 || h1 AS bval FROM sig UNION ALL
      SELECT doc_id, 1, h2 || h3 FROM sig UNION ALL
      SELECT doc_id, 2, h4 || h5 FROM sig UNION ALL
      SELECT doc_id, 3, h6 || h7 FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval
      WHERE a.doc_id >= 400 AND b.doc_id < 400
    ), scored AS (
      SELECT cand.batch_id, cand.corpus_id,
             (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
              CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
              CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
              CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END +
              CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END +
              CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END +
              CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END +
              CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) AS matches
      FROM cand JOIN sig sa ON sa.doc_id = cand.batch_id
                JOIN sig sb ON sb.doc_id = cand.corpus_id
      WHERE (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END +
             CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END +
             CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END +
             CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END +
             CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END +
             CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END +
             CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END +
             CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) >= 4
    )
    SELECT batch_id,
           CAST(MAX(matches * 1000000 + corpus_id) % 1000000 AS BIGINT)
               AS best_corpus_match,
           ROUND(CAST(MAX(matches * 1000000 + corpus_id) // 1000000 AS BIGINT)
                 / 8.0, 6) AS est_jaccard
    FROM scored GROUP BY batch_id ORDER BY batch_id
    """,
    tags=("dedup", "minhash", "pipeline"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production ingest form: an
    incoming BATCH (doc_id >= 400) is near-dup-checked against the
    existing CORPUS (doc_id < 400) only. The band join is
    batch-bands ⋈ corpus-bands (hash join on (band, bval)), NEVER
    corpus × corpus: at 100 TB the corpus signatures are a precomputed
    table and per-ingest work scales with the batch, not the corpus.
    Verdict per batch doc: its best corpus match (deterministic argmax
    via the matches*1e6+id scalar encoding) at est_jaccard >= 0.5."""
    par = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    # Same no-distinct reasoning as dedup_minhash_lsh (rows unique by
    # construction; MIN ignores duplicates anyway).
    sh = d.select(
        "doc_id", F.explode(_shingles("text")).alias("shingle")
    )
    sig = sh.groupBy("doc_id").agg(*_minhash_sig_cols()).cache()

    bands = _band_table(sig)
    a = bands.filter(F.col("doc_id") >= 400).alias("a")   # incoming batch
    b = bands.filter(F.col("doc_id") < 400).alias("b")    # existing corpus
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval")),
        )
        .select(
            F.col("a.doc_id").alias("batch_id"),
            F.col("b.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(_NUM_HASHES)
    )
    scored = (
        cand.join(sa, F.col("batch_id") == F.col("sa.doc_id"))
        .join(sb, F.col("corpus_id") == F.col("sb.doc_id"))
        .select("batch_id", "corpus_id", matches.alias("matches"))
        .filter(F.col("matches") >= _NUM_HASHES // 2)
    )
    enc = F.max(F.col("matches") * 1000000 + F.col("corpus_id"))
    return (
        scored.groupBy("batch_id")
        .agg(
            (enc % 1000000).cast("bigint").alias("best_corpus_match"),
            F.round((enc - enc % 1000000) / 1000000 / 8.0, 6).alias(
                "est_jaccard"
            ),
        )
        .orderBy("batch_id")
    )
