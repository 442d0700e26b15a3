"""Near-dup detection + similarity search (training-data pipeline ops).

MinHash/SimHash use md5-derived integer hashes (identical in Spark and
DuckDB: conv(substr(md5(x),1,15),16,10) == ('0x'||substr(md5(x),1,15))::
BIGINT), so even the sketch pipelines have full SQL oracles.

Scale notes (100 TB): minhash signatures are one explode + groupBy (one
shuffle keyed by doc_id); LSH banding self-joins on the 8-byte band key —
both AQE-skew-safe. ANN brute force is the correctness baseline; the LSH
bucket join is the scale path (candidates drop from N^2 to per-bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources.tables import load

N_HASHES = 4
SEEDS = [f"s{j}:" for j in range(N_HASHES)]


def _tok(col: F.Column) -> F.Column:
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def _h(seed: str, tok: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), tok)), 1, 15), 16, 10).cast("long")


def _h_sql(seed: str, tok: str) -> str:
    return f"('0x' || substring(md5('{seed}' || {tok}), 1, 15))::BIGINT"


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc minhash signature: h_j = min over tokens of hash_j(token)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tok(F.col("text"))).alias("t"))
    aggs = [F.min(_h(SEEDS[j], F.col("t"))).alias(f"h{j}") for j in range(N_HASHES)]
    return toks.groupBy("doc_id").agg(*aggs)


_MINHASH_CTE = r"""
    toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS t
        FROM documents
    ),
    sigs AS (
        SELECT doc_id, {mins}
        FROM toks GROUP BY doc_id
    )
""".format(
    mins=", ".join(f"min({_h_sql(SEEDS[j], 't')}) AS h{j}" for j in range(N_HASHES))
)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: 2 bands x 2 rows; candidate pairs share >= 1 band.
    (shingle->minhash->band->bucket-join.)"""
    sigs = minhash_signatures(spark, sf_dir)
    b1 = sigs.select("doc_id", F.col("h0").alias("k1"), F.col("h1").alias("k2"))
    b2 = sigs.select("doc_id", F.col("h2").alias("k1"), F.col("h3").alias("k2"))
    pairs = None
    for b in (b1, b2):
        a = b.alias("a")
        c = b.alias("b")
        p = a.join(c, ["k1", "k2"]).filter(F.col("a.doc_id") < F.col("b.doc_id")).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens (multiset-weighted)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tok(F.col("text"))).alias("t"))
    h = _h("sim:", F.col("t"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(16):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.alias("simhash"))


def _simhash_oracle() -> str:
    h = _h_sql("sim:", "t")
    sums = ", ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    bits = " + ".join(f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return rf"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS t
            FROM documents
        ),
        agg AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
        SELECT doc_id, {bits} AS simhash FROM agg
    """


JACCARD_DF_CAP_FRAC = 0.05  # drop shingles appearing in > 5% of the corpus


def token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram shingle Jaccard near-dup pairs over the WHOLE corpus,
    threshold 0.5. Set intersection via shingle equi-join — the
    distributed restatement of pairwise n-gram comparison.

    Scale guard: shingles with document frequency > 5% of the corpus are
    dropped before the join (standard prefix/stop-shingle filtering). A
    shingle appearing in d docs contributes d^2 join rows, so an uncapped
    hot shingle is quadratic in corpus size; the cap bounds the postings
    join at ``(0.05 N)^2`` per shingle regardless of corpus skew. Both
    set sizes and intersections are computed on the capped vocabulary, so
    the semantics stay exact (and oracle-checkable) for the capped space.
    """
    n_docs = load(spark, sf_dir, "documents").count()  # scalar only
    cap = max(1, int(JACCARD_DF_CAP_FRAC * n_docs))
    d = load(spark, sf_dir, "documents")
    ts = _tok(F.col("text"))
    bigrams = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ts) - 2),
            lambda i: F.concat(F.get(ts, i), F.lit(" "), F.get(ts, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = d.select("doc_id", F.explode(F.array_distinct(bigrams)).alias("t"))
    keep = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= cap
    ).select("t")
    toks = toks.join(keep, "t", "left_semi")
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, "t")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 4
            ),
        )
    )
    return j.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b", "jaccard")


_JACCARD_ORACLE = r"""
    WITH t0 AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ts
        FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS t
        FROM t0
    ),
    cap AS (
        SELECT greatest(1, cast(floor(0.05 * count(*)) as bigint)) AS cap FROM documents
    ),
    keep AS (
        SELECT t FROM sh0 GROUP BY t HAVING count(*) <= (SELECT cap FROM cap)
    ),
    toks AS (SELECT doc_id, t FROM sh0 SEMI JOIN keep USING (t)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM toks a JOIN toks b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_inter / cast(sa.sz + sb.sz - n_inter as double), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter / cast(sa.sz + sb.sz - n_inter as double) >= 0.5
"""


# --------------------------------------------------------------------------
# Embedding similarity search
# --------------------------------------------------------------------------


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 8 — the exact
    baseline every ANN variant is validated against."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    q = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    cand = base.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("embedding"), F.col("qemb")) / (F.col("nrm") * F.col("qnrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
    )


_ANN_ORACLE = """
    WITH base AS (
        SELECT vec_id, embedding,
               sqrt(list_aggregate(list_transform(embedding, x -> cast(x as double) * cast(x as double)), 'sum')) AS nrm
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qemb, nrm AS qnrm FROM base WHERE vec_id < 8),
    cand AS (
        SELECT q.query_id, b.vec_id,
               list_aggregate(list_transform(list_zip(b.embedding, q.qemb),
                              p -> cast(p[1] as double) * cast(p[2] as double)), 'sum')
               / (b.nrm * q.qnrm) AS cos,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_aggregate(list_transform(list_zip(b.embedding, q.qemb),
                              p -> cast(p[1] as double) * cast(p[2] as double)), 'sum')
                          / (b.nrm * q.qnrm) DESC,
                          b.vec_id ASC
               ) AS rank
        FROM base b CROSS JOIN q WHERE b.vec_id <> q.query_id
    )
    SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r FROM cand WHERE rank <= 5
"""


def lsh_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing on the first 8 dims (the scale path for ANN:
    candidates per bucket instead of N^2). Returns bucket histogram."""
    e = load(spark, sf_dir, "embeddings")
    bucket = None
    for i in range(1, 9):
        bit = F.when(F.element_at(F.col("embedding"), i) >= 0.0, F.lit(1 << (i - 1))).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return (
        e.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_LSH_ORACLE = """
    SELECT {bucket} AS bucket, count(*) AS n
    FROM embeddings GROUP BY bucket
""".format(
    bucket=" + ".join(
        f"(CASE WHEN embedding[{i}] >= 0.0 THEN {1 << (i - 1)} ELSE 0 END)" for i in range(1, 9)
    )
)


# --------------------------------------------------------------------------
# ANN scale path: sign-LSH bucket join -> within-bucket exact cosine
# (reference analog: bounded-candidate search, alg/gdalgrid.cpp:257-325 —
# the quadtree bounds candidates there; sign-LSH buckets bound them here)
# --------------------------------------------------------------------------

DIM = 64  # embeddings fixture dimensionality (TESTDATA.md)
N_BANDS = 16
BAND_BITS = 8


def _emb_d(col: F.Column) -> F.Column:
    """Embedding cast to array<double> with an unrolled (codegen'd) F.get
    projection — HOF lambdas are CodegenFallback, F.get is not."""
    return F.array(*[F.get(col, i).cast("double") for i in range(DIM)])


def _dot_u(a: F.Column, b: F.Column) -> F.Column:
    """Unrolled 64-term dot product over array<double> columns: stays inside
    whole-stage codegen (F.aggregate/zip_with would drop to interpreted eval).
    Summation is sequential i=0..63, bit-identical to DuckDB list_aggregate."""
    s = None
    for i in range(DIM):
        t = F.get(a, i) * F.get(b, i)
        s = t if s is None else s + t
    return s


def _norm_u(a: F.Column) -> F.Column:
    return F.sqrt(_dot_u(a, a))


def _hyperplane_bits(emb: F.Column) -> list:
    """128 deterministic sign-LSH hyperplanes over a 64-dim embedding:
    bits 0..63 = sign(x_i), bits 64..127 = sign(x_i + x_{(i+1) mod 64}).
    Axis-aligned + pairwise-sum hyperplanes are SQL-expressible so the
    whole banding scheme has an exact DuckDB mirror."""
    bits = [F.get(emb, i) >= 0.0 for i in range(DIM)]
    bits += [(F.get(emb, i) + F.get(emb, (i + 1) % DIM)) >= 0.0 for i in range(DIM)]
    return bits


def _band_key(bits: list, b: int) -> F.Column:
    s = None
    for j in range(BAND_BITS):
        t = F.when(bits[b * BAND_BITS + j], F.lit(1 << j)).otherwise(F.lit(0))
        s = t if s is None else s + t
    return s.cast("int")


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus deterministic planted near-duplicates: for every
    vector v, a copy v + 0.15*reverse(v) under vec_id+10000 (cosine vs the
    original ~0.989; max cosine between distinct fixture vectors is 0.51).
    Gives the near-dup queries a non-vacuous >=0.9 regime without external
    data; arithmetic is double-precision on both engines so signs and
    cosines hash identically."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    base = e.select("vec_id", _emb_d(emb).alias("emb"))
    pert = F.array(
        *[
            (F.get(emb, i).cast("double") + F.lit(0.15) * F.get(emb, DIM - 1 - i).cast("double"))
            for i in range(DIM)
        ]
    )
    dup = e.select((F.col("vec_id") + F.lit(10000)).alias("vec_id"), pert.alias("emb"))
    return base.unionByName(dup)


_AUG_CTE = """
    aug AS (
        SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS emb
        FROM embeddings
        UNION ALL
        SELECT vec_id + 10000,
               list_transform(range(1, len(embedding) + 1),
                   i -> cast(embedding[i] as double)
                        + 0.15 * cast(embedding[len(embedding) + 1 - i] as double)) AS emb
        FROM embeddings
    )
"""

DEDUP_LSH_THRESH = 0.9

# multiprobe masks: all 1- and 2-bit flips of the 8-bit bucket
_PROBE_MASKS = [1 << j for j in range(BAND_BITS)] + [
    (1 << i) | (1 << j) for i in range(BAND_BITS) for j in range(i + 1, BAND_BITS)
]


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cos >= 0.9) via the LSH scale path:
    16 bands x 8 sign-bits -> band-bucket equi-join for candidates ->
    exact cosine on candidates only. Zero crossJoin: candidate count is
    bounded per band-bucket (AQE skew-join is the backstop for hot
    buckets). Miss probability per true pair at cos 0.989 is ~1e-8
    ((1-p^8)^16, p≈0.953), so the brute-force SQL oracle is exact in
    practice — this query is validated against BRUTE FORCE, not a mirror.
    """
    aug = _augmented(spark, sf_dir)
    bits = _hyperplane_bits(F.col("emb"))
    keys = F.array(*[_band_key(bits, b) for b in range(N_BANDS)])
    postings = aug.select("vec_id", F.posexplode(keys).alias("band", "bkey"))
    a = postings.alias("a")
    b = postings.alias("b")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    base = aug.select("vec_id", "emb", _norm_u(F.col("emb")).alias("nrm"))
    ea = base.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"), F.col("nrm").alias("nrm_a")
    )
    eb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"), F.col("nrm").alias("nrm_b")
    )
    cos = _dot_u(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= DEDUP_LSH_THRESH)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cos_r"))
    )


_DEDUP_LSH_ORACLE = f"""
    WITH {_AUG_CTE},
    base AS (
        SELECT vec_id, emb,
               sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm
        FROM aug
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_aggregate(list_transform(list_zip(a.emb, b.emb),
                    p -> p[1] * p[2]), 'sum') / (a.nrm * b.nrm) AS cos
        FROM base a JOIN base b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 4) AS cos_r
    FROM pairs WHERE cos >= {DEDUP_LSH_THRESH!r}
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via sign-LSH buckets + multiprobe: query vectors
    (vec_id < 8) probe their own 8-bit bucket plus all Hamming<=2
    neighbors (1+8+28 = 37 buckets), exact cosine ranks only the probed
    candidates. Candidates drop from N to ~37N/256 (a 7x reduction; the
    probe radius is the recall/cost dial). The probe side is broadcast so
    the base table never shuffles. The DuckDB oracle mirrors the
    bucket/probe semantics exactly (recall vs brute force is measured
    separately in tests/test_similarity_scale.py)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    emb_d = _emb_d(F.col("embedding"))
    bits = [F.get(F.col("emb"), i) >= 0.0 for i in range(BAND_BITS)]
    bucket = None
    for j in range(BAND_BITS):
        t = F.when(bits[j], F.lit(1 << j)).otherwise(F.lit(0))
        bucket = t if bucket is None else bucket + t
    base = e.select("vec_id", emb_d.alias("emb")).select(
        "vec_id", "emb", _norm_u(F.col("emb")).alias("nrm"), bucket.alias("bucket")
    )
    q = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "query_id",
        "qemb",
        "qnrm",
        F.explode(
            F.array(
                F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS]
            )
        ).alias("bucket"),
    )
    cand = base.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot_u(F.col("emb"), F.col("qemb")) / (F.col("nrm") * F.col("qnrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
    )


_ANN_LSH_ORACLE = """
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> cast(x as double)) AS emb,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> cast(x as double) * cast(x as double)), 'sum')) AS nrm,
               {bucket} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, bucket AS qb
        FROM base WHERE vec_id < 8
    ),
    probes AS (
        SELECT query_id, qemb, qnrm,
               unnest([qb, {xors}]) AS bucket
        FROM q
    ),
    cand AS (
        SELECT p.query_id, b.vec_id,
               list_aggregate(list_transform(list_zip(b.emb, p.qemb),
                    pr -> pr[1] * pr[2]), 'sum') / (b.nrm * p.qnrm) AS cos
        FROM base b JOIN probes p USING (bucket)
        WHERE b.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM cand
    )
    SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r FROM ranked WHERE rank <= 5
""".format(
    bucket=" + ".join(
        f"(CASE WHEN embedding[{i}] >= 0.0 THEN {1 << (i - 1)} ELSE 0 END)" for i in range(1, 9)
    ),
    xors=", ".join(f"xor(qb, {m})" for m in _PROBE_MASKS),
)



# --------------------------------------------------------------------------
# Near-dup clusters (connected components over the Jaccard pair graph)
# --------------------------------------------------------------------------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup pipeline: group near-dup PAIRS
    (token_jaccard_pairs, threshold 0.5) into CLUSTERS via distributed
    min-label propagation (operators/components.py); cluster_id = min
    doc_id of the component = the canonical survivor. Oracle: DuckDB
    recursive-CTE transitive closure over the identical pair set."""
    from gdal_spark.operators.components import connected_components

    pairs = token_jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
    )
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# ANN scale path #2: IVF (inverted-file) coarse quantizer
# --------------------------------------------------------------------------

IVF_CENT_MOD = 31  # centroids = vectors with vec_id % 31 == 3 (~N/31 lists)
IVF_NPROBE = 2


def _ivf_parts(spark: SparkSession, sf_dir: str, nprobe: int):
    """Shared IVF construction: (assignments, probes, base) DataFrames.

    Coarse quantizer: a deterministic sample of the corpus itself serves
    as centroids (vec_id % 31 == 3) — the quantizer's training is
    irrelevant to IVF's *search* semantics, and a deterministic one makes
    the whole index SQL-mirrorable. Assignment = nearest centroid by
    squared L2 (rank-1 window over the broadcast centroid set); probes =
    the query's nprobe nearest centroid lists."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", _emb_d(F.col("embedding")).alias("emb")).select(
        "vec_id", "emb", _norm_u(F.col("emb")).alias("nrm")
    )
    cent = base.filter(F.col("vec_id") % IVF_CENT_MOD == 3).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
    )
    # squared L2 = |a|^2 + |c|^2 - 2 a.c (unrolled codegen dot)
    d2 = (
        F.col("nrm") * F.col("nrm")
        + F.col("cnrm") * F.col("cnrm")
        - F.lit(2.0) * _dot_u(F.col("emb"), F.col("cemb"))
    )
    pairs = base.crossJoin(F.broadcast(cent)).withColumn("d2", d2)
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
    ranked = pairs.withColumn("crank", F.row_number().over(w))
    assign = ranked.filter(F.col("crank") == 1).select("vec_id", "cid")
    probes = (
        ranked.filter((F.col("vec_id") < 8) & (F.col("crank") <= nprobe))
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    return assign, probes, base


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via an IVF index (the quadtree-analog scale path next to
    sign-LSH; reference analog alg/gdalgrid.cpp:257-325 bounded search):
    vectors are assigned to their nearest coarse-centroid list, queries
    probe their IVF_NPROBE nearest lists, exact cosine reranks only the
    probed lists' members (~nprobe*N/C candidates instead of N). With
    nprobe = C the result equals brute force exactly — the property
    tests/test_similarity_scale.py asserts."""
    from pyspark.sql import Window

    assign, probes, base = _ivf_parts(spark, sf_dir, IVF_NPROBE)
    qs = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    cand = (
        assign.join(probes, "cid")
        .join(base, "vec_id")
        .join(F.broadcast(qs), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    cos = _dot_u(F.col("emb"), F.col("qemb")) / (F.col("nrm") * F.col("qnrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
    )


_IVF_ORACLE = f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> cast(x as double)) AS emb,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> cast(x as double) * cast(x as double)), 'sum')) AS nrm
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM base
        WHERE vec_id % {IVF_CENT_MOD} = 3
    ),
    ranked AS (
        SELECT b.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY b.nrm*b.nrm + c.cnrm*c.cnrm
                        - 2.0 * list_aggregate(list_transform(list_zip(b.emb, c.cemb),
                              p -> p[1] * p[2]), 'sum') ASC,
                          c.cid ASC
               ) AS crank
        FROM base b CROSS JOIN cent c
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE crank = 1),
    probes AS (
        SELECT vec_id AS query_id, cid FROM ranked
        WHERE vec_id < 8 AND crank <= {IVF_NPROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id,
               list_aggregate(list_transform(list_zip(b.emb, q.emb),
                    pr -> pr[1] * pr[2]), 'sum') / (b.nrm * q.nrm) AS cos
        FROM assign a
        JOIN probes p USING (cid)
        JOIN base b ON b.vec_id = a.vec_id
        JOIN base q ON q.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
    ),
    rr AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM cand
    )
    SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r FROM rr WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# Multimodal near-dup: perceptual-hash hamming pairs (banded)
# --------------------------------------------------------------------------

PHASH_HAM_MAX = 6


def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual hash: pairs with hamming(ph_a, ph_b)
    <= 6 over a corpus of 64-bit phashes (documents-fingerprint base +
    planted 3-bit-flip variants under id+10000 — the multimodal twin of
    the text pipelines, same shape as the real images.phash column).

    Scale path: 4 bands x 16 bits. By pigeonhole, any pair within
    hamming 3 shares at least one untouched 16-bit band, so the band
    equi-join has GUARANTEED recall for the planted radius — candidates
    are per-band-bucket, never all-pairs; exact bit_count(xor) reranks.
    Pure Column bit math end-to-end (codegen; no UDF), mirrored exactly
    by the DuckDB oracle."""
    d = load(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    ph = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
    base = d.select(F.col("doc_id").cast("long").alias("img_id"), ph.alias("ph"))
    k = F.col("img_id")
    flips = (
        F.shiftleft(F.lit(1), 0) * F.lit(0)  # placeholder to start the sum
        + F.expr("shiftleft(1L, cast((img_id * 7) % 60 as int))")
        + F.expr("shiftleft(1L, cast((img_id * 13 + 1) % 60 as int))")
        + F.expr("shiftleft(1L, cast((img_id * 29 + 2) % 60 as int))")
    )
    dup = base.select(
        (k + 10000).alias("img_id"), F.col("ph").bitwiseXOR(flips).alias("ph")
    )
    allp = base.unionByName(dup)
    bands = allp.select(
        "img_id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(ph >> {16 * b}) & 65535").alias("bkey"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("img_id", "ph", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.img_id") < F.col("b.img_id"))
        .select(
            F.col("a.img_id").alias("id_a"),
            F.col("b.img_id").alias("id_b"),
            F.expr("bit_count(a.ph ^ b.ph)").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= PHASH_HAM_MAX)


_PHASH_ORACLE = r"""
    WITH base AS (
        SELECT CAST(doc_id AS BIGINT) AS img_id,
               ('0x' || substring(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 15))::BIGINT AS ph
        FROM documents
    ),
    flips AS (
        SELECT img_id,
               (1::BIGINT << CAST((img_id * 7) % 60 AS INT))
             + (1::BIGINT << CAST((img_id * 13 + 1) % 60 AS INT))
             + (1::BIGINT << CAST((img_id * 29 + 2) % 60 AS INT)) AS f
        FROM base
    ),
    allp AS (
        SELECT img_id, ph FROM base
        UNION ALL
        SELECT b.img_id + 10000, xor(b.ph, f.f) FROM base b JOIN flips f USING (img_id)
    ),
    bands AS (
        SELECT img_id, ph, band, (ph >> (16 * band)) & 65535 AS bkey
        FROM allp, range(4) t(band)
    ),
    pairs AS (
        SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b,
               bit_count(xor(a.ph, b.ph)::BIT) AS hamming
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                  AND a.img_id < b.img_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6
"""


def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full embedding-dedup pipeline end to end: sign-LSH candidate
    pairs -> exact cosine >= 0.9 (dedup_embedding_lsh) -> connected
    components -> (vec_id, cluster_id) with min-id canonical survivors.
    This is what a 100 TB dedup job actually materializes: the keep/drop
    assignment, not the pair list."""
    from gdal_spark.operators.components import connected_components

    pairs = dedup_embedding_lsh(spark, sf_dir)
    cc = connected_components(pairs, src="vec_a", dst="vec_b")
    return cc.select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


_EMB_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE lsh AS ({_DEDUP_LSH_ORACLE}),
    edges AS (
        SELECT vec_a AS a, vec_b AS b FROM lsh
        UNION
        SELECT vec_b AS a, vec_a AS b FROM lsh
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
    )
    SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# Production-parameter MinHash LSH: 128 permutations, 16 bands x 8 rows
# --------------------------------------------------------------------------
#
# The 4-perm / 2x2 banding above is the readable sketch demo; real corpus
# dedup needs 100+ permutations for usable recall at ~0.8 Jaccard. Doing
# 128 md5 calls per token would be 128x the hash cost, so this uses the
# standard universal-hash family instead (datasketch-style): ONE md5 per
# token folded to a 28-bit base value x, then h_j = (a_j*x + b_j) mod p
# with p = 2^31-1 — 128 pure-arithmetic codegen columns, no extra hashing.
# Products stay < 2^59, no BIGINT overflow in either engine.
# Banding: each band's 8 mins fold into one key via a mod-p polynomial
# roll; candidates equi-join on (band, key) — one explode + one shuffle,
# the same scale shape as the embedding LSH path above.

N_PERM = 128
MH_BANDS = 16
MH_ROWS = 8
MH_P = 2147483647  # 2^31 - 1
MH_FOLD = 1000003
_MH_A = [(j * 2654435761 + 12345) % MH_P for j in range(N_PERM)]
_MH_B = [(j * 40503 + 7) % MH_P for j in range(N_PERM)]
assert all(a != 0 for a in _MH_A)


def minhash128_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tok(F.col("text"))).alias("t"))
    x = F.conv(F.substring(F.md5(F.col("t")), 1, 7), 16, 10).cast("long")
    toks = toks.select("doc_id", x.alias("x"))
    aggs = [
        F.min((F.lit(_MH_A[j]) * F.col("x") + F.lit(_MH_B[j])) % F.lit(MH_P)).alias(
            f"h{j}"
        )
        for j in range(N_PERM)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def _mh_band_key(b: int) -> F.Column:
    acc = F.col(f"h{8 * b}")
    for r in range(1, MH_ROWS):
        acc = (acc * F.lit(MH_FOLD) + F.col(f"h{8 * b + r}")) % F.lit(MH_P)
    return acc


def minhash128_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs at production LSH parameters (128 perms,
    16 bands x 8 rows -> S-curve threshold ~0.77 Jaccard).

    Signatures are computed ONCE: a posting self-join recomputes the
    whole 128-min aggregation lineage on both sides (measured ~2x the
    query), so buckets are grouped instead — one shuffle on (band,
    bkey), then in-bucket pairs via a narrow double explode.  An LSH
    bucket at 8 rows/band is tiny by construction, so collect_list
    stays bounded (a pathological all-identical corpus degenerates the
    same way a self-join would)."""
    sigs = minhash128_signatures(spark, sf_dir)
    keys = F.array(*[_mh_band_key(b) for b in range(MH_BANDS)])
    postings = sigs.select("doc_id", F.posexplode(keys).alias("band", "bkey"))
    buckets = (
        postings.groupBy("band", "bkey")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _mh128_oracle() -> str:
    mins = ", ".join(
        f"min(({_MH_A[j]} * x + {_MH_B[j]}) % {MH_P}) AS h{j}" for j in range(N_PERM)
    )
    def band_key(b):
        expr = f"h{8 * b}"
        for r in range(1, MH_ROWS):
            expr = f"(({expr}) * {MH_FOLD} + h{8 * b + r}) % {MH_P}"
        return expr
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {band_key(b)} AS bkey FROM sigs"
        for b in range(MH_BANDS)
    )
    return rf"""
        WITH toks AS (
            SELECT doc_id,
                   ('0x' || substring(md5(unnest(list_filter(
                        string_split_regex(text, '\s+'), t -> t <> ''))), 1, 7))::BIGINT AS x
            FROM documents
        ),
        sigs AS (SELECT doc_id, {mins} FROM toks GROUP BY doc_id),
        bands AS ({bands})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    """


SPARK = {
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "minhash128_lsh_pairs": minhash128_lsh_pairs,
    "simhash16": simhash16,
    "token_jaccard_pairs": token_jaccard_pairs,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_buckets": lsh_bucket_counts,
    "ann_lsh_topk": ann_lsh_topk,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_clusters": dedup_clusters,
    "dedup_phash_hamming": dedup_phash_hamming,
    "dedup_embedding_clusters": dedup_embedding_clusters,
    "ann_ivf_topk": ann_ivf_topk,
}

ORACLE = {
    "minhash_signatures": f"WITH {_MINHASH_CTE} SELECT doc_id, h0, h1, h2, h3 FROM sigs",
    "minhash_lsh_pairs": f"""
        WITH {_MINHASH_CTE},
        p1 AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
        ),
        p2 AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b ON a.h2 = b.h2 AND a.h3 = b.h3 AND a.doc_id < b.doc_id
        )
        SELECT DISTINCT doc_a, doc_b FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    """,
    "minhash128_lsh_pairs": _mh128_oracle(),
    "simhash16": _simhash_oracle(),
    "token_jaccard_pairs": _JACCARD_ORACLE,
    "ann_cosine_topk": _ANN_ORACLE,
    "ann_lsh_buckets": _LSH_ORACLE,
    "ann_lsh_topk": _ANN_LSH_ORACLE,
    "dedup_embedding_lsh": _DEDUP_LSH_ORACLE,
    "dedup_clusters": _CLUSTERS_ORACLE,
    "dedup_phash_hamming": _PHASH_ORACLE,
    "dedup_embedding_clusters": _EMB_CLUSTERS_ORACLE,
    "ann_ivf_topk": _IVF_ORACLE,
}
