"""Training-data text operators over the `documents` table.

The operations a 100 TB pretraining-data pipeline runs before tokenization:
exact + near dedup (shingle Jaccard, MinHash, SimHash), language ID, quality
scoring, token counting, fingerprinting. Everything is JVM-side built-ins
(split/regexp/md5/explode/groupBy) — no Python in any hot path — and every
sketch is md5-derived so the DuckDB oracles match bit-for-bit.

Scale shapes: shingle inverted-index joins shuffle on the shingle (fine —
shingles are high-cardinality); MinHash-LSH turns the O(n^2) pair problem
into a band-bucket equi-join, which is the 10^12-row path.

Measured anti-lesson (do not "optimize" minhash/simhash into higher-order
array lambdas): rewriting the explode + partial-agg sketches as
array_min(transform(...)) / size(filter(...)) projections made them 2-5x
SLOWER at sf0.1 (minhash_lsh_pairs 2.1s -> 11s, simhash 0.54s -> 1.05s).
Higher-order-function lambdas evaluate interpreted, outside whole-stage
codegen, while explode + hash-aggregate is fully codegen'd and its map-side
combine already collapses the shuffle to one row per doc — the exchange the
HOF form removes was never the cost. HOF projections win only when the
per-row arrays are tiny and fixed (langid's 5-stopword filters), not for
md5-per-shingle work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_PRIORITY,
    STOPWORDS,
    md5_int,
    word_3grams_all_expr,
    word_3grams_expr,
    words_col,
)
from .registry import load, load_wide, query

# --------------------------------------------------------------------------


@query(
    "exact_dedup",
    oracle="""
    SELECT d.doc_id, md5(d.text) AS fp,
           min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS keeper,
           (d.doc_id = min(d.doc_id) OVER (PARTITION BY md5(d.text))) AS is_keeper
    FROM documents d
    """,
)
def exact_dedup(spark, sf_dir) -> DataFrame:
    """Exact dedup via content hash: every doc mapped to its group keeper
    (min doc_id per md5). hash-groupBy, the cheapest dedup tier."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    return d.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.min("doc_id").over(w).alias("keeper"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


@query(
    "token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpeish,
           n_chars
    FROM documents
    """,
)
def token_count(spark, sf_dir) -> DataFrame:
    """Token counting: whitespace words + a BPE-ish regex segmentation
    (letter runs / single digits / punctuation)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(words_col()).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"), 0)).alias("n_bpeish"),
        "n_chars",
    )


def _langid_oracle() -> str:
    hits = ",\n           ".join(
        "sum(CASE WHEN word IN ({}) THEN 1 ELSE 0 END) AS {}_hits".format(
            ", ".join(f"'{w}'" for w in STOPWORDS[lang]), lang
        )
        for lang in LANG_PRIORITY
    )
    best = "GREATEST({})".format(", ".join(f"{lang}_hits" for lang in LANG_PRIORITY))
    pick = "CASE "
    for lang in LANG_PRIORITY:
        pick += f"WHEN {lang}_hits = best AND best > 0 THEN '{lang}' "
    pick += "ELSE 'und' END"
    return f"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      FROM documents
    ), hits AS (
      SELECT doc_id,
           {hits}
      FROM words GROUP BY doc_id
    )
    SELECT doc_id, {pick.replace('best', best)} AS predicted_lang,
           CAST({best} AS BIGINT) AS stopword_hits
    FROM hits
    """


@query("langid", oracle=_langid_oracle())
def langid(spark, sf_dir) -> DataFrame:
    """Language ID by stopword-hit voting (n-gram heuristic tier); ties break
    by fixed language priority.

    Zero-shuffle shape: the per-language hit counts are higher-order
    `size(filter(words, w -> w IN (...)))` expressions over the split array —
    one projection per document, no explode and no groupBy. The former
    explode+groupBy form re-sharded the entire token stream (shuffle volume
    == total word count) to compute what is a per-row aggregation."""
    d = load(spark, sf_dir, "documents")
    hit_cols = []
    for lang in LANG_PRIORITY:
        lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hit_cols.append(
            F.expr(f"size(filter(_w, w -> w IN ({lits})))").alias(f"{lang}_hits")
        )
    hits = d.select(
        "doc_id", words_col(F.lower(F.col("text"))).alias("_w")
    ).select("doc_id", *hit_cols)
    best = F.greatest(*[F.col(f"{lang}_hits") for lang in LANG_PRIORITY])
    pick = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        pick = F.when((F.col(f"{lang}_hits") == best) & (best > 0), lang).otherwise(pick)
    return hits.select("doc_id", pick.alias("predicted_lang"), best.cast("long").alias("stopword_hits"))


@query(
    "quality_score",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
             n_chars
      FROM documents
    )
    SELECT doc_id, n_words,
           CAST(floor(1000.0 * n_punct / NULLIF(n_chars, 0)) AS BIGINT) AS punct_ratio_m,
           CAST(floor(100.0 * n_chars / n_words) AS BIGINT) AS mean_wordlen_c,
           (n_words BETWEEN 20 AND 1000
            AND n_punct * 1.0 / NULLIF(n_chars, 0) < 0.1) AS passes
    FROM f
    """,
)
def quality_score(spark, sf_dir) -> DataFrame:
    """Quality heuristics: length band, punctuation density, mean word
    length, pass/fail gate (floor-scaled ints for bit-stable compare).
    n_chars is NULLIF-guarded on both engines: an empty document would
    otherwise produce NaN and abort the long cast under ANSI mode."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(words_col())
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9\s]"), 0))
    nchars = F.nullif(F.col("n_chars"), F.lit(0))
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.floor(1000.0 * n_punct / nchars).cast("long").alias("punct_ratio_m"),
        F.floor(100.0 * F.col("n_chars") / n_words).cast("long").alias("mean_wordlen_c"),
        (n_words.between(20, 1000) & (n_punct * 1.0 / nchars < 0.1)).alias("passes"),
    )


@query(
    "doc_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir) -> DataFrame:
    """Canonical-form fingerprint: lowercase, collapse whitespace, md5."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# near-dup: exact shingle Jaccard via inverted index

_GRAMS_SQL = r"""
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ), words AS (
      SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w)+1)) AS pos FROM toks
    ), grams AS (
      SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS g
      FROM words a
      JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    )
"""


_DF_CAP = 64  # shingle document-frequency cap: a shingle in > _DF_CAP docs is
# boilerplate, and its inverted-index bucket would be a k^2 quadratic bomb on
# one shuffle key at 10^12 rows — production near-dup pipelines drop them.


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_GRAMS_SQL},
    fgrams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM grams
      ) WHERE df <= {_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM fgrams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM fgrams a JOIN fgrams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(floor(1000.0 * i / (s1.n + s2.n - i)) AS BIGINT) AS jaccard_m
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.8
    """,
)
def ngram_jaccard_pairs(spark, sf_dir) -> DataFrame:
    """Exact near-dup pairs: word-3gram Jaccard >= 0.8 via a shingle
    inverted index (no O(n^2) cross join; candidates only where a shingle is
    shared — the shuffle key is the shingle). Shingles with document
    frequency > _DF_CAP are dropped (both in the numerator and the per-doc
    sizes, mirrored in the oracle): one hot boilerplate shingle shared by k
    docs would otherwise emit k^2 candidate rows on a single shuffle key.

    Shuffle-light shape (the minhash_lsh_pairs pattern downstream): the
    exploded gram stream is aggregated to per-gram document frequencies
    FIRST (hash aggregate with map-side partials — the shuffle carries one
    row per distinct gram per map partition, never the gram stream), the
    few over-cap HOT grams broadcast into a map-side anti-filter on a
    second pass over the gram stream (the inverted, scale-stable form of
    the survivor join: hot grams are bounded by #grams/cap), and pair
    candidates expand from each sorted posting list with SQL lambdas. The former form — a per-gram WINDOW count
    (full gram-stream shuffle + sort) followed by a posting self-join —
    re-evaluated the full scan+split+explode subtree four times AND shuffled
    the whole gram stream three times. The survivor posting table is
    localCheckpoint-ed because two downstream branches (per-doc sizes, pair
    intersections) both read it; sizes (one row per doc) rebuilds from that
    cache inside each broadcast into the final joins."""
    d = load_wide(spark, sf_dir, "documents")
    # the gram stream feeds two consumers (df count, survivor join):
    # persist() materializes it once, IN-FLOW with the first consumer (the
    # hot-gram aggregate) — an eager localCheckpoint here cost one extra
    # full pass over the stream just to materialize (A/B: 2.38 -> 2.04 s
    # median at sf0.1); the cache is MEMORY_AND_DISK, roughly the bytes one
    # shuffle of the stream would spill anyway
    grams = (
        d.select("doc_id", words_col().alias("w"))
        .select("doc_id", F.explode(word_3grams_expr("w")).alias("g"))
        .persist()
    )
    # survivor filter INVERTED to the small side: the grams with df > cap
    # are by construction few (boilerplate — bounded by #grams/cap), so they
    # broadcast and the gram stream is anti-filtered MAP-SIDE; joining
    # against the df<=cap table instead would sort-merge the gram stream
    # against a nearly-#distinct-grams-sized table (two extra exchanges +
    # sorts at corpus scale)
    hot = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_df")).filter(
        F.col("_df") > _DF_CAP
    )
    posting = (
        grams.join(F.broadcast(hot.select("g")), "g", "left_anti")
        .groupBy("g")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .localCheckpoint(eager=True)
    )
    # sizes derives from the CHECKPOINTED posting table (one row per doc —
    # tiny): the two broadcast builds recompute it from the cache inside the
    # final job, which is cheaper than a dedicated checkpoint job for it
    sizes = (
        posting.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS d1, y AS d2))))"
    )
    inter = (
        posting.filter(F.size("ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") * 1.0 / (F.col("s1.n") + F.col("s2.n") - F.col("i"))
    return (
        inter.join(F.broadcast(sizes.alias("s1")), F.col("d1") == F.col("s1.doc_id"))
        .join(F.broadcast(sizes.alias("s2")), F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= 0.8)
        .select("d1", "d2", F.floor(1000.0 * jac).cast("long").alias("jaccard_m"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH

_K = 8  # signature length; bands of 2 -> 4 band keys

# Pairwise-independent affine hash family over two 28-bit md5 slices:
# ONE md5 per shingle (instead of k salted md5s), then
# h_j = (A_j*h1 + B_j*h2 + C_j) mod P per permutation — the standard
# 2-universal construction. All arithmetic is exact int64 on BOTH engines:
# A,B < 2^30 and h1,h2 < 2^28, so each product < 2^58 and the sum < 2^59.
# Measured 8x less hashing work than the salted-md5 form at identical
# sketch quality (fixed constants, deterministic across engines).
_MH_P = 1_000_000_007
_MH_COEF = [
    (976369, 694847539, 813361),
    (403125077, 51439819, 270271),
    (32452843, 785876453, 980801),
    (198491317, 252584339, 95231),
    (633910099, 18973547, 517619),
    (87178291, 372607993, 143961),
    (715225739, 104395301, 376049),
    (275604541, 49979687, 986407),
]


def _minhash_sql_cols() -> str:
    return ",\n           ".join(
        f"min(({a} * ('0x' || substr(md5(g), 1, 7))::BIGINT"
        f" + {b} * ('0x' || substr(md5(g), 8, 7))::BIGINT + {c}) % {_MH_P}) AS m{j}"
        for j, (a, b, c) in enumerate(_MH_COEF)
    )


@query(
    "minhash_signature",
    oracle=f"""
    WITH {_GRAMS_SQL}
    SELECT doc_id,
           {_minhash_sql_cols()}
    FROM grams GROUP BY doc_id
    """,
)
def minhash_signature(spark, sf_dir) -> DataFrame:
    """MinHash signatures (k=8) over word-3gram shingles: ONE md5 per
    shingle, split into two 28-bit slices, then k pairwise-independent
    affine permutations (_MH_COEF) -> per-doc min. One shuffle (groupBy
    doc_id, map-side combined to one row per doc per partition); the
    affine family does 8x less hashing than k salted md5s — at 10^12
    shingles the md5 evaluations ARE the operator's cost. The scan is
    widened (load_wide) so that per-shingle hashing parallelizes even when
    the input is a single row group."""
    d = load_wide(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", words_col().alias("w"))
        .select("doc_id", F.explode(word_3grams_expr("w")).alias("g"))
    )
    h = F.md5("g")
    hashed = grams.select(
        "doc_id",
        F.conv(F.substring(h, 1, 7), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 8, 7), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min(
            (F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2") + F.lit(c)) % F.lit(_MH_P)
        ).alias(f"m{j}")
        for j, (a, b, c) in enumerate(_MH_COEF)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


@query(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {_GRAMS_SQL},
    sig AS (
      SELECT doc_id,
           {_minhash_sql_cols()}
      FROM grams GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, concat(m0, '_', m1) AS key FROM sig
      UNION ALL SELECT doc_id, 1, concat(m2, '_', m3) FROM sig
      UNION ALL SELECT doc_id, 2, concat(m4, '_', m5) FROM sig
      UNION ALL SELECT doc_id, 3, concat(m6, '_', m7) FROM sig
    )
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs(spark, sf_dir) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature (4 bands x 2 rows),
    bucket on band key, emit in-bucket pairs. This is the scale path for
    near-dedup: candidate generation is a groupBy on band keys, never a
    cross join.

    Single-pass shape: the signature aggregation runs ONCE — bands come from
    exploding an array of (band, key) structs (not a 4-branch union, which
    Catalyst would evaluate 4x), and pairs come from sorting each bucket's
    doc ids and expanding i<j combinations with SQL lambdas (not a
    self-join, which would evaluate the aggregation on both sides)."""
    sig = minhash_signature(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws("_", F.col(f"m{2*i}"), F.col(f"m{2*i+1}")).alias("key"),
            )
            for i in range(4)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS d1, y AS d2))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .distinct()
    )


@query(
    "repetition_ratio",
    # 1-based list indexing in DuckDB; guard docs with < 3 words to an empty
    # gram list on BOTH engines (Spark's sequence(0, -1) would run backwards)
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(w) < 3 THEN []
                  ELSE list_transform(generate_series(1, len(w) - 2),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             END AS grams
      FROM toks
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           CAST(floor(1000.0 * (len(grams) - len(list_distinct(grams)))
                      / NULLIF(len(grams), 0)) AS BIGINT) AS dup_frac_m,
           (len(grams) > 0 AND
            (len(grams) - len(list_distinct(grams))) * 10 <= 3 * len(grams)) AS passes
    FROM g
    """,
)
def repetition_ratio(spark, sf_dir) -> DataFrame:
    """Intra-document repetition filter (the Gopher/RefinedWeb-style quality
    gate): fraction of duplicated word-3grams per document, pass iff <= 30%.
    Pure projection — higher-order transform/array_distinct on the split
    array, no explode, no shuffle; the pass test is integer math so both
    engines agree exactly."""
    d = load(spark, sf_dir, "documents")
    g = d.select("doc_id", words_col().alias("_w")).select(
        "doc_id", word_3grams_all_expr("_w").alias("grams")
    )
    total = F.size("grams").cast("long")
    dist = F.size(F.array_distinct("grams")).cast("long")
    return g.select(
        "doc_id",
        total.alias("n_grams"),
        dist.alias("n_distinct"),
        F.floor(1000.0 * (total - dist) / F.nullif(total, F.lit(0)))
        .cast("long")
        .alias("dup_frac_m"),
        ((total > 0) & ((total - dist) * 10 <= 3 * total)).alias("passes"),
    )


_DECON_MOD = 97  # doc_id % _DECON_MOD == 0 plays the held-out eval set


@query(
    "decontaminate",
    oracle=f"""
    WITH {_GRAMS_SQL},
    eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM grams t JOIN eval_grams e ON t.g = e.g
    WHERE t.doc_id % {_DECON_MOD} <> 0
    GROUP BY t.doc_id
    """,
)
def decontaminate(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word-
    3gram with the held-out eval set (deterministically, docs with
    doc_id % 97 == 0 — see _DECON_MOD — play the benchmark). Output =
    contaminated doc -> count of distinct shared shingles.

    Scale shape: the eval-side gram set is benchmark-sized (thousands of
    documents, not the corpus), so it BROADCASTS — the corpus-side gram
    stream is filtered map-side and only the surviving hits shuffle into the
    per-doc count. The corpus is never re-sharded on the shingle."""
    d = load_wide(spark, sf_dir, "documents")
    grams = d.select("doc_id", words_col().alias("w")).select(
        "doc_id", F.explode(word_3grams_expr("w")).alias("g")
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# round cap of the distributed loop: a component it cannot close in this
# many rounds raises instead of returning wrong labels
_CC_MAX_ITERS = 20
# first round of the distributed loop that adds pointer doubling: each round's
# cost is fixed-overhead dominated at any scale where the label table fits a
# few shuffle partitions, so fewer-but-slightly-fatter rounds win
_CC_DOUBLING_FROM = 2

# edge count at or below which connected_components solves the graph in ONE
# executor task (NumPy union-find over the materialized pair list) instead of
# the iterative distributed loop. 2^22 int64 pairs ≈ 64 MB in a single task —
# the size of one fat shuffle partition — and the vectorized hook+compress
# passes run at C speed, so the crossover vs ~log(diameter) full Spark rounds
# (each a join + groupBy + checkpoint job) is far above this. Above the
# threshold the pointer-doubling loop remains the 100 TB shape.
_CC_SMALL_MAX_EDGES = 1 << 22


@query(
    "dedup_clusters",
    # transitive closure in DuckDB: reach(v, lbl) = lbl's component contains
    # v; min(lbl) per v is exactly the fixed point the Spark label
    # propagation converges to
    oracle=f"""
    WITH RECURSIVE {_GRAMS_SQL},
    sig AS (
      SELECT doc_id,
           {_minhash_sql_cols()}
      FROM grams GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, concat(m0, '_', m1) AS key FROM sig
      UNION ALL SELECT doc_id, 1, concat(m2, '_', m3) FROM sig
      UNION ALL SELECT doc_id, 2, concat(m4, '_', m5) FROM sig
      UNION ALL SELECT doc_id, 3, concat(m6, '_', m7) FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    reach(v, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.v
    )
    SELECT v AS doc_id, min(lbl) AS cluster FROM reach GROUP BY v
    """,
)
def dedup_clusters(spark, sf_dir) -> DataFrame:
    """Transitive dedup-cluster assignment — the keeper-resolution step after
    candidate generation: near-dup is not transitive, but dedup decisions
    must be, so every document maps to the MIN doc_id of its connected
    component in the MinHash-LSH pair graph (doc A ~ B ~ C all dedup to A
    even if A and C share no band).

    Spark-first iterative shape: min-label propagation over the symmetric
    edge list — per round one edge⋈label join + one min-groupBy that also
    folds in the fixed-point probe; pointer doubling engages automatically
    past round 4, so adversarial boilerplate chains converge in O(log
    diameter) rounds. Only edge-incident documents iterate (singletons
    attach in one final left join), so each round's shuffle is bounded by
    the candidate-pair count, not the corpus."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id")
    return connected_components(
        d.select(F.col("doc_id").alias("v")),
        pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b")),
    ).select(F.col("v").alias("doc_id"), F.col("lbl").alias("cluster"))


def _cc_min_label_kernel(a, b):
    """Vectorized min-label union-find over two int64 edge-endpoint arrays:
    returns ``(u, lbl)`` — the sorted unique vertex ids and, aligned with
    them, the MIN vertex id of each one's component. Pure NumPy (no Spark):
    hook rounds (every edge pulls both endpoints to the smaller current
    label) alternate with full pointer-compression passes (lbl = lbl[lbl]
    to fixpoint), so convergence is O(log n) vectorized O(E) passes. The
    fixed point is exactly the distributed loop's: labels start at self,
    only decrease, and stay inside the component, so each component's stable
    label is its minimum member."""
    import numpy as np

    u, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia = inv[: len(a)]
    ib = inv[len(a):]
    lbl = np.arange(len(u), dtype=np.int64)
    while True:
        m = np.minimum(lbl[ia], lbl[ib])
        np.minimum.at(lbl, ia, m)
        np.minimum.at(lbl, ib, m)
        while True:
            l2 = lbl[lbl]
            if np.array_equal(l2, lbl):
                break
            lbl = l2
        if np.array_equal(lbl[ia], lbl[ib]):
            break
    return u, u[lbl]


def _cc_uf_task(batches):
    """mapInArrow body: concatenate the (single coalesced) partition's edge
    batches and emit one (v, lbl) batch from the NumPy kernel. Endpoints
    must be non-null integers (LSH pair output always is); a null endpoint
    raises instead of becoming an arbitrary int64 vertex id."""
    import numpy as np
    import pyarrow as pa

    aa, bb = [], []
    for batch in batches:
        if batch.column(0).null_count or batch.column(1).null_count:
            raise ValueError("connected_components: edge endpoints must be non-null")
        aa.append(batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
        bb.append(batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
    if not aa:
        return
    u, lbl = _cc_min_label_kernel(np.concatenate(aa), np.concatenate(bb))
    yield pa.RecordBatch.from_pydict(
        {"v": pa.array(u, pa.int64()), "lbl": pa.array(lbl, pa.int64())}
    )


def _fresh_stats_frame(ck: DataFrame) -> DataFrame:
    """Rebuild a checkpointed frame as a plain LogicalRDD scan with FRESH
    statistics, through private JVM APIs (``internalCreateDataFrame``,
    ``queryExecution().toRdd()``).

    Dataset.checkpoint preserves the ORIGIN plan's statistics on the
    checkpointed relation; in an iterated self-join loop those stats
    COMPOUND multiplicatively (join sizeInBytes = product of the
    children's), so after k rounds the checkpoint carries a ~4^k-bit BigInt
    size and Catalyst's size-only stats visitor spends its time in
    BigInteger multiplication — measured: round cost exploding 4-5x per
    round from ~round 10 (0.5 s -> 230 s by round 13) with the rebuild flat
    at ~0.4 s/round. The rebuilt frame scans the SAME materialized RDD
    (toRdd of a checkpointed plan IS that RDD), so no recompute; with AQE
    on, join strategies are re-decided from runtime sizes anyway."""
    spark, jdf = ck.sparkSession, ck._jdf
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, spark)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Min-label connected components over an undirected pair list:
    ``vertices (v)``, ``edges (a, b)`` -> ``(v, lbl)`` where lbl is the MIN
    vertex id of v's component.

    Scale shape:

    - only EDGE-INCIDENT vertices iterate — singletons (the overwhelming
      majority of a near-dup corpus) join back with ``lbl = v`` in one final
      left join, so every round's shuffle is bounded by the candidate-pair
      count, never the corpus;
    - the FIRST propagation round is fused into initialization: instead of
      labels(v) = v followed by a full round, the init groupBy computes
      lbl(v) = least(v, min(neighbors)) directly — same shuffle as the old
      distinct, one fewer round of fixed per-round cost;
    - rounds before ``_CC_DOUBLING_FROM`` are plain min-label propagation
      (one edge⋈label join + min-groupBy);
    - from round ``_CC_DOUBLING_FROM`` POINTER DOUBLING engages: each round
      also joins labels to themselves (v -> lbl(lbl(v))), so label depth
      doubles per round and convergence is O(log diameter) — an adversarial
      boilerplate chain of length 10^6 converges in ~_CC_DOUBLING_FROM +
      log2(10^6) ≈ 22 rounds instead of 10^6;
    - the convergence probe is FOLDED into the update job: the min-groupBy
      carries the previous label alongside the new one, so detecting the
      fixed point is a filter over the just-persisted result — no extra
      join job per round;
    - SCALE-ADAPTIVE: when the materialized edge list is small enough for
      one task (``_CC_SMALL_MAX_EDGES``, ~4M pairs), the entire propagation
      collapses into a single vectorized NumPy union-find task
      (`_cc_min_label_kernel`) — identical labels, one job instead of
      ~log(diameter) rounds.

    Each round is localCheckpoint-ed executor-side (never a driver collect —
    the mapping is pair-bounded but can be large): that truncates the
    lineage the pointer-doubling self-join would otherwise double every
    round, and the probe needs the round materialized anyway. Once a round's
    checkpoint is materialized, the PREVIOUS round's checkpointed RDD is
    explicitly unpersisted (found via the context's persistent-RDD registry —
    the checkpointed RDD is not reachable as a Python attribute), so executor
    storage holds at most two label sets instead of one per round.

    ``checkpoint_dir``: when set, every round materializes through a
    RELIABLE ``df.checkpoint()`` into that directory (persistent storage —
    on a cluster, the shared table store) instead of ``localCheckpoint``,
    so a 100 TB dedup run survives executor loss mid-iteration: lost label
    partitions are re-read from the checkpoint files rather than restarting
    the whole propagation. The caller owns the directory's lifecycle
    (delete it after consuming the result). With ``checkpoint_dir=None``
    (default) the cheaper localCheckpoint is used — right for interactive /
    bench runs where a lost executor means a lost JVM anyway."""
    e0 = edges.select("a", "b")

    # --- scale-adaptive small-graph path ---------------------------------
    # The distributed loop costs ~log(diameter) full Spark rounds (each a
    # join + min-groupBy + checkpoint job) of near-fixed latency; when the
    # whole edge list fits ONE task (<= _CC_SMALL_MAX_EDGES, ~64 MB of int64
    # pairs) the same min-label fixed point comes out of a single
    # vectorized union-find task over the materialized pairs — the
    # broadcast-threshold pattern of algorithm choice, decided per run from
    # the actual edge count, never cached across runs. Disabled in durable
    # checkpoint_dir mode (that mode exists for runs big enough to lose
    # executors) and for non-integer vertex ids.
    if _CC_SMALL_MAX_EDGES and checkpoint_dir is None:
        from pyspark.sql.types import IntegralType

        if all(
            isinstance(edges.schema[c].dataType, IntegralType) for c in ("a", "b")
        ) and isinstance(vertices.schema["v"].dataType, IntegralType):
            e0 = e0.persist()
            n_edges = e0.count()  # one materialization of the pair pipeline
            if n_edges == 0:
                e0.unpersist()
                return vertices.select("v", F.col("v").alias("lbl"))
            if n_edges <= _CC_SMALL_MAX_EDGES:
                labels = (
                    e0.coalesce(1)
                    .mapInArrow(_cc_uf_task, "v long, lbl long")
                    .localCheckpoint(eager=True)
                )
                e0.unpersist()
                vt = vertices.schema["v"].dataType
                return (
                    vertices.select("v")
                    .join(
                        labels.select(
                            F.col("v").cast(vt).alias("v"),
                            F.col("lbl").cast(vt).alias("lbl"),
                        ),
                        "v",
                        "left",
                    )
                    .select("v", F.coalesce("lbl", "v").alias("lbl"))
                )

    # symmetrize via ONE explode instead of a two-branch union: the union
    # form evaluated the (expensive) upstream pair pipeline once per branch
    # and doubled the partition count every downstream stage had to schedule
    edges_sym = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .persist()
    )
    # every endpoint appears as `a` in the symmetric list, so this is the
    # full edge-incident vertex set. Each round ends in an EAGER
    # localCheckpoint: the pointer-doubling self-join would otherwise double
    # the logical plan every round (exponential Catalyst analysis time) —
    # persist() truncates execution but not the plan; checkpointing does
    # both, and the fixed-point probe needs the round materialized anyway.
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _materialize(df: DataFrame):
        """Checkpoint ``df`` eagerly; return (frame, checkpointed java RDD).
        The frame is `_fresh_stats_frame` of the checkpoint, or — if that
        private-API rebuild raises — the checkpointed frame itself (same
        labels, only its statistics compound across rounds). The raw
        checkpointed RDD is returned for explicit unpersist once the NEXT
        round has materialized (executor storage holds <= 2 label sets)."""
        if checkpoint_dir is not None:
            ck = df.checkpoint(eager=True)
        else:
            ck = df.localCheckpoint(eager=True)
        try:
            ck_rdd = ck._jdf.queryExecution().analyzed().rdd()
        except Exception:  # noqa: BLE001 — plan shape changed; GC will clean
            ck_rdd = None
        try:
            return _fresh_stats_frame(ck), ck_rdd
        except Exception:  # noqa: BLE001 — private JVM API changed
            return ck, ck_rdd

    labels, prev_rdd = _materialize(
        edges_sym.groupBy(F.col("a").alias("v"))
        .agg(F.min("b").alias("_mn"))
        .select("v", F.least(F.col("v"), F.col("_mn")).alias("lbl"))
    )
    try:
        for it in range(_CC_MAX_ITERS):
            own = labels.select("v", "lbl", F.lit(True).alias("_own"))
            msgs = (
                edges_sym.alias("e")
                .join(labels.alias("l"), F.col("e.a") == F.col("l.v"))
                .select(
                    F.col("e.b").alias("v"),
                    F.col("l.lbl").alias("lbl"),
                    F.lit(False).alias("_own"),
                )
            )
            # contracted-edge messages: every edge also delivers lbl(a) TO
            # lbl(b) — propagation runs on the label-contracted graph, whose
            # diameter shrinks geometrically, so convergence is O(log n)
            # even on adversarial-id path graphs where plain min-label +
            # pointer jumps spread the component min only ~linearly
            # (measured on a 1000-doc boilerplate chain with random ids:
            # 57 rounds without this, 13 with). Labels sent are labels of
            # same-component vertices, so the min-label closure argument is
            # unchanged.
            msgs2 = (
                edges_sym.alias("e")
                .join(labels.alias("la"), F.col("e.a") == F.col("la.v"))
                .join(labels.alias("lb"), F.col("e.b") == F.col("lb.v"))
                .select(
                    F.col("lb.lbl").alias("v"),
                    F.col("la.lbl").alias("lbl"),
                    F.lit(False).alias("_own"),
                )
            )
            cand = own.unionByName(msgs).unionByName(msgs2)
            if it >= _CC_DOUBLING_FROM:
                # pointer doubling, TWO jumps per round: v adopts
                # lbl(lbl(v)) and lbl(lbl(lbl(v))) — label depth triples per
                # round (log3 convergence) for two extra joins over the tiny
                # label table. lbl values are always edge-incident vertex
                # ids, so the lookup joins stay within the iterating set.
                jump1 = (
                    labels.alias("l1")
                    .join(labels.alias("l2"), F.col("l1.lbl") == F.col("l2.v"))
                    .select(
                        F.col("l1.v").alias("v"),
                        F.col("l2.lbl").alias("lbl"),
                    )
                )
                jump2 = (
                    jump1.alias("j")
                    .join(labels.alias("l3"), F.col("j.lbl") == F.col("l3.v"))
                    .select(
                        F.col("j.v").alias("v"),
                        F.col("l3.lbl").alias("lbl"),
                    )
                )
                cand = cand.unionByName(
                    jump1.withColumn("_own", F.lit(False))
                ).unionByName(jump2.withColumn("_own", F.lit(False)))
            from pyspark.sql import Observation

            obs = Observation(f"cc-changed-{it}")
            # labels only ever decrease, so "changed" == "any new min < old".
            # The probe is an OBSERVED metric computed inside the same job
            # that materializes the round's checkpoint — zero extra jobs or
            # scans per round (formerly a separate filter+count job).
            new_labels, new_rdd = _materialize(
                cand.groupBy("v")
                .agg(
                    F.min("lbl").alias("lbl"),
                    F.min(F.when(F.col("_own"), F.col("lbl"))).alias("_old"),
                )
                .observe(
                    obs,
                    F.max(
                        F.when(F.col("lbl") < F.col("_old"), 1).otherwise(0)
                    ).alias("changed"),
                )
            )
            # the new round is materialized: the previous round's
            # checkpointed RDD is no longer referenced by any future plan —
            # free its executor storage now instead of waiting for JVM GC
            if prev_rdd is not None:
                prev_rdd.unpersist(False)
            prev_rdd = new_rdd
            changed = obs.get["changed"] or 0
            labels = new_labels.select("v", "lbl")
            if changed == 0:
                break
        else:
            # never return silently-wrong clusters: not converged
            raise RuntimeError(
                f"connected_components did not converge in {_CC_MAX_ITERS} rounds "
                "(raise _CC_MAX_ITERS or lower _CC_DOUBLING_FROM)"
            )
        final = labels
    finally:
        edges_sym.unpersist()
        if e0.is_cached:  # persisted by the small-graph gate's count
            e0.unpersist()
    # singletons never entered the loop: attach them with lbl = v
    return vertices.select("v").join(final, "v", "left").select(
        "v", F.coalesce("lbl", "v").alias("lbl")
    )


# --------------------------------------------------------------------------
# SimHash

_SIMHASH_BITS = 16


def _simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    assemble = " + ".join(f"(CASE WHEN s{b} >= 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(_SIMHASH_BITS))
    return f"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
      FROM documents
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM words
    ), bits AS (
      SELECT doc_id,
           {bit_sums}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash
    FROM bits
    """


@query("simhash", oracle=_simhash_sql())
def simhash(spark, sf_dir) -> DataFrame:
    """SimHash (16-bit — see _SIMHASH_BITS) per document: word-hash bit
    votes, sign-aggregated — one groupBy, all JVM expressions."""
    d = load_wide(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(words_col()).alias("word"))
    hashed = words.select("doc_id", md5_int(F.col("word")).alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(_SIMHASH_BITS)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_aggs)
    assemble = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") >= 0, 1).otherwise(0) * (1 << b)
        assemble = term if assemble is None else assemble + term
    return bits.select("doc_id", assemble.cast("long").alias("simhash"))
