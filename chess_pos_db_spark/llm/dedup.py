"""Deduplication operators (SURVEY.md §2.11 N1/N2 — north-star block).

Scale design:
- exact dedup is a hash-groupBy on a digest of the text, never on the
  raw text (at 100 TB the shuffle moves 16-byte digests, not documents);
- n-gram Jaccard is the exact verification pass: explode → distinct
  (doc, token) → self-join on token → pair counts. The token join is
  the classic near-dup verify step and shuffles only (doc_id, token)
  pairs;
- MinHash+LSH is the scale path: fixed hash family → per-band
  signature → bucket join, so candidate generation touches only
  band-bucket collisions instead of all O(n²) pairs. The family is
  md5 (hex output is bit-identical in Spark and DuckDB) so the whole
  pipeline is oracle-exact; swap in xxhash64 for raw throughput;
- SimHash: 64-bit signed-bit-accumulation fingerprint, hamming-style
  near-dup at scale; md5-bit-exact, oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..oracle_cc import STAR_CC_CTES, hybrid_cc_ctes
from ..hashing import md5_long_duck, md5_long_sql
from ..registry import register
from ..tables import t

# ---------------------------------------------------------------------------
# N1 — exact dedup via content digest.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT doc_id, lang
FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


@register(
    "dedup_exact_groups",
    oracle="""
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT)    AS n_copies
FROM documents
GROUP BY MD5(text)
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select("keep_id", "n_copies")


# N1b — reordering-invariant exact dedup: group by the order-insensitive
# fingerprint (md5 of the SORTED token list, text.py::text_fingerprint),
# so "a b c" and "c b a" collapse to one group — the cheap canonical-form
# dedup that catches shuffled boilerplate byte-exact hashing misses.
# Same single map-side-combined shuffle as dedup_exact_groups.
@register(
    "dedup_fingerprint_groups",
    oracle="""
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT)    AS n_copies
FROM documents
GROUP BY MD5(ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(text, ' ')), ' '))
""",
)
def dedup_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.split("text", " "))))
    return (
        docs.groupBy(fp)
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# N2a — exact n-gram (token-set) Jaccard similarity join: all pairs with
# Jaccard >= 0.5 (doc_a < doc_b). The distinct-token self-join form is
# oracle-expressible, so this is the verified near-dup path.
# ---------------------------------------------------------------------------


# Document-frequency cap for the exact-Jaccard token postings: a token
# shared by d documents emits d·(d−1)/2 join rows, so ONE stopword in a
# 10⁹-doc corpus is a 10¹⁸-row join. Tokens with df > cap carry almost
# no similarity signal (they're corpus-wide) and are dropped from BOTH
# the postings and the set sizes — i.e. Jaccard over the rare-token
# subsets, the standard df-capped formulation — keeping the join input
# provably bounded: ≤ cap·(cap−1)/2 pair rows per distinct token.
JACCARD_DF_CAP = 100


@register(
    "dedup_jaccard",
    oracle=f"""
WITH tok0 AS (
    SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
    FROM documents
),
tok AS (
    SELECT doc_id, token FROM (
        SELECT doc_id, token, COUNT(*) OVER (PARTITION BY token) AS df
        FROM tok0
    ) WHERE df <= {JACCARD_DF_CAP}
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       ROUND(p.n_shared * 1.0 / (sa.n_tok + sb.n_tok - p.n_shared), 4) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.n_shared * 1.0 / (sa.n_tok + sb.n_tok - p.n_shared) >= 0.5
""",
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok0 = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    # df as a window count (not groupBy+join-back: same shuffle payload,
    # two fewer exchanges — the text_tfidf pattern), and the window's
    # hash-partitioning on token is EXACTLY what the self-join below
    # needs, so the postings shuffle is reused, not repeated.
    tok = (
        tok0.withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        .filter(F.col("df") <= JACCARD_DF_CAP)
        .drop("df")
        # three consumers (both self-join sides + the size rollup):
        # materialize the capped postings once instead of replaying
        # explode+distinct+window per consumer
        .localCheckpoint(eager=True)
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared") / (F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("n_shared"))
    return (
        # no F.broadcast hint: the per-doc sizes table is corpus-sized,
        # and a forced broadcast hard-fails at Spark's 8 GB relation cap
        # on a large corpus. The planner still broadcasts at small scale
        # (stats from the checkpointed tok frame) and degrades to a
        # shuffle join at scale.
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# N2b — MinHash + LSH banding (the 100 TB candidate-generation path).
# Signature: for each of NUM_HASHES family members g_i, the min of
# g_i(token) over the doc's distinct tokens. The family is derived from
# ONE md5 per token (Kirsch-Mitzenmacher: g_i = h1 + i*h2) — md5 hex is
# bit-identical in Spark and DuckDB and the derivation is pure BIGINT
# arithmetic, so the WHOLE pipeline (signatures → band buckets →
# candidate pairs) is oracle-exact at one-hash-per-token cost. A
# throughput-first deployment swaps md5 for xxhash64 (same plan shape).
# ---------------------------------------------------------------------------

NUM_HASHES = 16
ROWS_PER_BAND = 2  # 8 bands → catches pairs with Jaccard ≳ 0.5
_N_BANDS = NUM_HASHES // ROWS_PER_BAND

# Kirsch-Mitzenmacher family: one md5 per token, split into two 60-bit
# halves h1/h2 (15 hex chars each), reduced mod 2^58 so that
# g_i = (h1 + i*h2) mod P stays under 2^62 BEFORE the reduction for
# i < 16 — pure BIGINT arithmetic, no overflow, identical in Spark and
# DuckDB. The final "mod P" (P = 2^61-1, Mersenne prime) is
# LOAD-BEARING for MinHash: without the wrap, min over tokens of
# h1 + i*h2 is dominated by the min-h2 token for growing i, so the 16
# coordinates correlate and banding recall collapses (measured on the
# sf0.001 corpus: 76.8% of Jaccard≥0.7 pairs surfaced unwrapped vs
# 97.6% wrapped vs 99.8% for 16 independent md5s — the wrap buys back
# almost all the recall at one md5/token; tests/test_ml_parity.py
# pins recall parity against pyspark.ml's MinHashLSH).
_KM_MOD = 1 << 58
_KM_P = (1 << 61) - 1


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → mh_0..mh_{NUM_HASHES-1}: min over distinct tokens of the
    K-M hash g_i(token) = h1 + i*h2 (one md5 per token, 16 derived).

    No distinct pass: MIN is duplicate-insensitive, so deduplicating
    (doc_id, token) first would only add a full shuffle of the token
    stream before the aggregate. Dropping it leaves ONE shuffle whose
    payload is the map-side-combined 16-long partial signature per doc
    per partition — at corpus scale the difference between shuffling
    the token stream and shuffling ~128 B/doc. The oracle keeps
    SELECT DISTINCT (min over duplicates ≡ min over distinct).

    MEASURED AND REJECTED (round 4, do not retry): the zero-shuffle
    in-row aggregate(transform(...)) form with a 16-min accumulator
    struct is 40% SLOWER under a noop-sink execution at sf0.1 (0.82s
    vs 0.58s best-of-4, bit-identical) — interpreted lambda folds lose
    to codegen'd hash aggregation; same verdict as dedup_simhash's
    in-row experiment."""
    tok = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS token")
    hk = tok.selectExpr(
        "doc_id",
        f"{md5_long_sql('token')} % {_KM_MOD}L AS h1",
        f"{md5_long_sql('token', start=16)} % {_KM_MOD}L AS h2",
    )
    aggs = [
        F.expr(f"min((h1 + {i}L * h2) % {_KM_P}L) AS mh_{i}")
        for i in range(NUM_HASHES)
    ]
    return hk.groupBy("doc_id").agg(*aggs)


def _sig_ctes() -> str:
    """Shared oracle CTEs: distinct tokens → per-doc minhash signature."""
    cols = ",\n           ".join(
        f"MIN((h1 + {i} * h2) % {_KM_P}) AS mh_{i}" for i in range(NUM_HASHES)
    )
    return f"""
tok AS (
    SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
    FROM documents
),
hk AS (
    SELECT doc_id,
           ({md5_long_duck('token')} % {_KM_MOD}) AS h1,
           ({md5_long_duck('token', start=16)} % {_KM_MOD}) AS h2
    FROM tok
),
sig AS (
    SELECT doc_id,
           {cols}
    FROM hk GROUP BY doc_id
)"""


def _band_key_sql(b: int) -> str:
    return " || '|' || ".join(
        f"CAST(mh_{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )


def _banded_cte() -> str:
    return f"""banded AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_key_sql(b)} AS band_hash FROM sig"
        for b in range(_N_BANDS)
    )}
)"""


_PAIRS_SELECT = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a
JOIN banded b
  ON a.band_idx = b.band_idx
 AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id"""


# Component-closure oracle CTEs (STAR_CC_CTES / hybrid_cc_ctes) are
# shared with the ER-resolve oracle — see chess_pos_db_spark/oracle_cc.py.


@register(
    "dedup_near",
    oracle=f"""
WITH {_sig_ctes()},
{_banded_cte()}
{_PAIRS_SELECT}
""",
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Collapsed pair generation (see lsh_candidate_pairs_collapsed):
    # identical same-signature docs are banding cliques whose external
    # edges are all identical, so the band self-join + distinct runs on
    # unique signatures only and member pairs are expanded back
    # join-locally with no distinct over them. sf0.1: 46M pre-distinct
    # join rows -> 707k, 41.4 s -> 3.5 s (noop), output pair set
    # IDENTICAL (subtract-checked both directions + oracle-exact).
    # The former trailing orderBy is dropped: the gate's comparison is
    # order-insensitive and a global sort of the pair stream paid a
    # range-sampling pass that re-ran the whole producer (guide §2.4's
    # "orderBy used only to make output deterministic").
    docs = t(spark, sf_dir, "documents")
    return lsh_candidate_pairs_collapsed(docs)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket."""
    band_cols = [
        F.concat_ws(
            "|",
            *[F.col(f"mh_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
        ).alias(f"band_{b}")
        for b in range(_N_BANDS)
    ]
    # Each band value carries its band index so collisions must be in the
    # SAME band: posexplode yields (band_idx, band_hash).
    banded = sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _signature_groups(docs: DataFrame) -> tuple:
    """(members, reps_sig): collapse docs with IDENTICAL full minhash
    signatures to one representative (the group's min doc_id).

    `members` is (doc_id, rep); `reps_sig` is the signature row of each
    representative. Near-dup corpora have large identical-signature
    groups, and every banding decision is a function of the signature
    alone, so candidate generation / clustering can run on the unique
    signatures and be expanded back to members exactly (the guide §8
    "decide with small rows" move). sf0.1: 5000 docs -> 1076 unique
    signatures; the band self-join's pre-distinct row count drops
    46M -> 707k. The grouping window keys the RAW 16 mh columns (no
    digest), so the collapse is exact. The frame is localCheckpoint'd:
    it feeds the rep filter plus both sides of the member expansion,
    and each consumer would otherwise replay the signature aggregation.
    """
    sig = minhash_signatures(docs)
    w = Window.partitionBy(*[f"mh_{i}" for i in range(NUM_HASHES)])
    sig = sig.withColumn("rep", F.min("doc_id").over(w)).localCheckpoint(
        eager=True
    )
    members = sig.select("doc_id", "rep")
    reps_sig = sig.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    return members, reps_sig


def lsh_candidate_pairs_collapsed(docs: DataFrame) -> DataFrame:
    """EXACTLY lsh_candidate_pairs(minhash_signatures(docs)), computed
    on unique signatures and expanded back to member pairs.

    Docs with the same signature share all bands, so (a) every
    same-group pair is a banding hit and (b) a cross-group pair (x, y)
    is a hit iff (rep(x), rep(y)) is — the rep-level hit set projects
    1:1 onto the member-level one. Groups are disjoint, so the expanded
    cross pairs and the in-group cliques are each duplicate-free and
    mutually disjoint: NO distinct runs over the expanded pair stream
    (the doc-level form deduplicated 46M join rows at sf0.1; this form
    deduplicates 707k rep rows and emits the 9.9M member pairs
    join-locally). No broadcast hint on the member side: it is
    corpus-sized (one row per doc) — AQE broadcasts it at small scale
    and falls back to a rep-keyed shuffle join at corpus scale."""
    members, reps_sig = _signature_groups(docs)
    rep_pairs = lsh_candidate_pairs(reps_sig)
    ma = members.select(F.col("rep").alias("rep_a"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.select(
            F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b")
        )
        .join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
    )
    x = members.alias("x")
    y = members.alias("y")
    within = x.join(
        y,
        (F.col("x.rep") == F.col("y.rep"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# N2b'' — duplicate-CLUSTER assignment: connected components over the LSH
# candidate graph, the step a dedup pipeline runs after candidate
# generation (every doc gets the min doc_id of its component as its
# cluster root; singletons keep their own id). Spark side is iterative
# min-label propagation with per-round localCheckpoint (lineage stays
# O(1)); rounds = graph diameter, and near-dup components are dense, so
# 2-4 rounds in practice. At 100 TB you swap the propagation loop for
# the two-phase large-star/small-star contraction (Kiveris et al.,
# "Connected Components in MapReduce and Beyond") — same edges input,
# same (doc_id, cluster_id) output contract. Oracle: recursive CTE
# propagating labels to a fixpoint — exact, since both sides compute the
# same min-label-per-component function.
# ---------------------------------------------------------------------------


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {_sig_ctes()},
{_banded_cte()},
{STAR_CC_CTES}
SELECT node AS doc_id, MIN(label) AS cluster_id
FROM walk GROUP BY node
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No trailing orderBy (same round-13 dedup_near rationale): the
    # gate's comparison is order-insensitive, and a global sort of the
    # corpus-sized label table is a range exchange whose sampling pass
    # re-reads the fixpoint output (guide §2.4's "orderBy used only to
    # make output deterministic").
    docs = t(spark, sf_dir, "documents")
    return component_labels(docs)


def component_labels(docs: DataFrame, pairs: DataFrame = None) -> DataFrame:
    """(doc_id, cluster_id) to the min-label fixpoint over the given
    candidate pairs (default: raw LSH banding hits).

    The default path runs the fixpoint on the SIGNATURE-COLLAPSED graph
    (_signature_groups): same-signature docs are banding cliques whose
    external edges all coincide, so component structure — and the
    min-doc_id label, since each rep is its group's min — is preserved
    exactly, while the edge set the loop iterates drops from member
    pairs to rep pairs (sf0.1: 9.9M -> 253k; dedup_components 27.8 s ->
    2.9 s noop, labels subtract-identical). Explicit `pairs` (verified
    edges, ER graphs) keep the uncollapsed fixpoint: their edge rules
    are not signature functions."""
    if pairs is None:
        members, reps_sig = _signature_groups(docs)
        rep_labels = _min_label_fixpoint(
            reps_sig.select("doc_id"), lsh_candidate_pairs(reps_sig)
        )
        return members.join(
            rep_labels.select(F.col("doc_id").alias("rep"), "cluster_id"),
            "rep",
        ).select("doc_id", "cluster_id")
    return _min_label_fixpoint(docs.select("doc_id"), pairs)


def _min_label_fixpoint(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation over (doc_a, doc_b) edges.

    One HOOK-AND-CONTRACT round runs before the loop: every node merges
    with min(N(v) ∪ {v}) — a provably same-component neighbor — and the
    edge set is projected onto the hooked groups and deduplicated. The
    loop then iterates the (usually far smaller) contracted graph
    instead of re-scanning the full edge set every round: a dense
    near-dup graph hooks most of each cluster into its minimum in this
    single pass (sf0.1 verified graph: 16.2M directed edges -> the loop
    sees 1 contracted edge; stage 20.3 s -> 5.3 s, labels identical).
    Exactness: hooking merges only provably-connected nodes; each
    group's hook label IS its minimum member, so min-per-component over
    contracted ids equals min over original doc ids, and composing the
    loop's labels through the hook mapping restores every node's label.
    """
    docs = nodes
    edges0 = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()  # pair generation runs once, not once per round
    )
    nbr0 = edges0.groupBy("dst").agg(F.min("src").alias("mn"))
    hook = (
        docs.join(nbr0, docs.doc_id == nbr0.dst, "left")
        .select(
            docs.doc_id,
            F.least(
                F.col("doc_id"), F.coalesce("mn", F.col("doc_id"))
            ).alias("hooked"),
        )
        .localCheckpoint()
    )
    ha = hook.select(F.col("doc_id").alias("src"), F.col("hooked").alias("hsrc"))
    hb = hook.select(F.col("doc_id").alias("dst"), F.col("hooked").alias("hdst"))
    edges = (
        edges0.join(ha, "src")
        .join(hb, "dst")
        .filter(F.col("hsrc") != F.col("hdst"))
        .select(F.col("hsrc").alias("src"), F.col("hdst").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        hook.select("hooked").distinct().selectExpr(
            "hooked AS doc_id", "hooked AS cluster_id"
        )
    ).localCheckpoint()
    # Labels only ever decrease, so sum(cluster_id) strictly decreases
    # until the fixpoint — a cheap convergence probe on the materialized
    # checkpoint (no row-by-row diff join).
    prev_sum = labels.agg(F.sum("cluster_id")).head()[0]
    while True:
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.dst, "left")
            .select(
                labels.doc_id,
                F.least(
                    labels.cluster_id,
                    F.coalesce(nbr_min.nbr_min, labels.cluster_id),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).head()[0]
        if cur_sum == prev_sum:
            # compose through the hook: every original node takes its
            # hooked group's converged label
            return hook.join(
                labels.select(
                    F.col("doc_id").alias("hooked"), "cluster_id"
                ),
                "hooked",
            ).select("doc_id", "cluster_id")
        prev_sum = cur_sum


# ---------------------------------------------------------------------------
# N2b''-scale — the SAME (doc_id, cluster_id) contract computed by the
# two-phase large-star/small-star edge contraction (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14) that SCALE.md
# names as the 100 TB path. Differences from min-label propagation that
# matter at scale:
#   - state crossing each round is the EDGE set (which contracts toward
#     one star edge per non-root node), never an all-nodes label table;
#   - rounds are O(log d) in component diameter instead of O(d), and
#     every round is two groupBy(min)+join passes — no driver-side graph.
# Both implementations share lsh_candidate_pairs and the recursive-CTE
# oracle; tests pin contraction ≡ propagation on fixture data and on
# hand-built chain/star/diamond graphs.
# ---------------------------------------------------------------------------


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbour to
    min(N(u) ∪ {u}). Input/output edges are canonical (u > v)."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    # emit (v, m) for v > u; m <= u < v keeps the output canonical.
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For every node u over its smaller neighbours N(u): connect each
    of N(u) ∪ {u} to m = min(N(u)). Canonical (u > v) in and out."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        e.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .unionAll(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
    )
    return (
        out.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )


def contraction_labels(docs: DataFrame, pairs: DataFrame = None) -> DataFrame:
    """(doc_id, cluster_id) via alternating large-star/small-star rounds
    to the edge-set fixpoint, then reading each node's root off its star
    edge (singletons label themselves).

    Default path collapses identical signatures first, exactly like
    component_labels: components are a graph property, so ANY exact CC
    over the rep graph plus the member attach yields the same labels
    (pinned contraction ≡ propagation in tests)."""
    if pairs is None:
        members, reps_sig = _signature_groups(docs)
        rep_labels = _contraction_fixpoint(
            reps_sig.select("doc_id"), lsh_candidate_pairs(reps_sig)
        )
        return members.join(
            rep_labels.select(F.col("doc_id").alias("rep"), "cluster_id"),
            "rep",
        ).select("doc_id", "cluster_id")
    return _contraction_fixpoint(docs.select("doc_id"), pairs)


def _contraction_fixpoint(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Large-star/small-star contraction over (doc_a, doc_b) edges."""
    docs = nodes
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _fingerprint(e: DataFrame):
        # order-insensitive exact-enough convergence probe: count plus a
        # 64-bit XOR content checksum (overflow-free under ANSI mode;
        # edges are distinct so XOR never self-cancels a state change) —
        # one aggregate over the materialized checkpoint, no diff join.
        return tuple(
            e.agg(F.count("*"), F.bit_xor(F.xxhash64("u", "v"))).head()
        )

    fp = _fingerprint(edges)
    while True:
        edges = _small_star(_large_star(edges)).localCheckpoint()
        nfp = _fingerprint(edges)
        if nfp == fp:
            break
        fp = nfp
    roots = edges.groupBy("u").agg(F.min("v").alias("root"))
    return docs.select("doc_id").join(
        roots, docs.doc_id == roots.u, "left"
    ).select(
        "doc_id", F.coalesce("root", F.col("doc_id")).alias("cluster_id")
    )


@register(
    "dedup_components_contraction",
    oracle=f"""
WITH RECURSIVE {_sig_ctes()},
{_banded_cte()},
{STAR_CC_CTES}
SELECT node AS doc_id, MIN(label) AS cluster_id
FROM walk GROUP BY node
""",
)
def dedup_components_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # trailing orderBy dropped — order-insensitive gate, corpus-sized
    # output (same rationale as dedup_components / r13's dedup_near)
    return contraction_labels(docs)


# ---------------------------------------------------------------------------
# N2-para — CCNet-style paragraph-level dedup: the corpus keeps ONE copy
# of every paragraph (first occurrence in (doc_id, para_idx) order) and
# each document is rewritten without its duplicated paragraphs. The
# fixture text has no newlines, so "paragraph" is a deterministic
# 20-token chunk — the operator shape (segment → global first-occurrence
# window → ordered reassembly) is the real thing either way.
#
# Scale: segmentation is MAP-ONLY (array slice arithmetic on the token
# array — no groupBy to form paragraphs); then exactly two shuffles:
# one window keyed by the paragraph (at 100 TB key by xxhash64(para) so
# the exchange moves 8-byte keys + payload once), one doc_id rollup for
# reassembly. Never doc×doc, never corpus-in-driver.
# ---------------------------------------------------------------------------

PARA_TOKENS = 20


@register(
    "dedup_paragraphs",
    oracle=f"""
WITH base AS (
    SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
),
paras0 AS (
    SELECT doc_id,
           UNNEST(LIST_TRANSFORM(
               RANGE(1, CAST(CEIL(ARRAY_LENGTH(toks) / {PARA_TOKENS}.0) AS BIGINT) + 1),
               i -> STRUCT_PACK(
                   para_idx := CAST(i - 1 AS BIGINT),
                   para := ARRAY_TO_STRING(
                       LIST_SLICE(toks, (i - 1) * {PARA_TOKENS} + 1,
                                  i * {PARA_TOKENS}), ' ')))) AS p
    FROM base
),
paras AS (
    SELECT doc_id, p.para_idx AS para_idx, p.para AS para FROM paras0
),
ranked AS (
    SELECT doc_id, para_idx, para,
           ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
    FROM paras
)
SELECT doc_id,
       COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN para END, ' ' ORDER BY para_idx),
                '') AS clean_text,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_paras_kept,
       CAST(COUNT(*) AS BIGINT) AS n_paras_total
FROM ranked GROUP BY doc_id
""",
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(t(spark, sf_dir, "documents"))


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_paras_kept, n_paras_total) with corpus-wide
    first-occurrence paragraph dedup applied to every document."""
    # token array materialized before the transform: the slice lambda
    # references it per paragraph, and interpreted HOFs re-evaluate an
    # inline split() on every reference (see pipeline._shingles)
    arr = F.col("_toks")
    n_paras = F.ceil(F.size(arr) / F.lit(PARA_TOKENS)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.concat_ws(
            " ", F.slice(arr, i * PARA_TOKENS + 1, PARA_TOKENS)
        ),
    )
    ex = (
        docs.withColumn("_toks", F.split("text", " "))
        .select("doc_id", F.posexplode(paras).alias("para_idx", "para"))
        .withColumn("para_idx", F.col("para_idx").cast("long"))
    )
    w = Window.partitionBy("para").orderBy("doc_id", "para_idx")
    ranked = ex.withColumn("keep", F.row_number().over(w) == 1)
    return ranked.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("para_idx", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias("clean_text"),
        F.count_if("keep").alias("n_paras_kept"),
        F.count("*").alias("n_paras_total"),
    )


# ---------------------------------------------------------------------------
# N2b-verify — exact-verification stage between LSH candidate generation
# and clustering: every banding hit is checked with EXACT Jaccard before
# it may merge two documents. Without this, ONE band collision (two
# non-duplicates agreeing on 2 of 16 minhashes) permanently merges their
# clusters — and at corpus scale band collisions are certainties, so the
# verify stage is what keeps transitive-closure dedup sound. The exact
# check touches ONLY candidate pairs (never all pairs): token sets are
# semi-restricted to docs that appear in some candidate pair, then
# joined to the pair list and compared with JVM-side array_intersect —
# cost is O(candidates × doc_len), independent of corpus size.
# ---------------------------------------------------------------------------

VERIFY_JACCARD_THRESHOLD = 0.5


def exact_jaccard_on_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for candidate pairs passing the exact
    distinct-token Jaccard threshold.

    Per-pair shared counts are EXACT but Zipf-split: each candidate
    doc's distinct-token set is encoded as (a) one 64-bit bitmap over
    the 64 highest-df tokens among candidate docs and (b) a sorted
    array of its remaining tokens. n_shared = popcount(bmp_a & bmp_b)
    + |rest_a ∩ rest_b| — identical to the single array_intersect (the
    top-64/rest split partitions the vocabulary; ranking ties break on
    the token so the split is deterministic, and ANY split is correct).
    Why: the intersect is O(pairs × doc_len) STRING hashing and
    dominated the verify stage (measured 133.6 s -> 6.1 s at sf0.1,
    9.9M candidates, output pair-for-pair identical); under Zipf the
    top-64 tokens absorb the bulk of per-doc postings at any corpus
    size, so the popcount leg replaces most of the string work with one
    AND+POPCNT while the rest-leg arrays stay short. The top-64 table
    is 64 rows by construction — the one broadcast here that is safe at
    every scale. The postings-self-join alternative (the oracle's
    shape) was measured and rejected: sum(df²) = 448M join rows at
    sf0.1 and unbounded under stopwords.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # candidate-restricted postings feed the df ranking AND the per-doc
    # encoding — materialize once instead of replaying the explode +
    # distinct + semi-join per consumer. Measured and REJECTED (r14),
    # both flat-to-worse at sf0.1 with no local win to justify them:
    # (a) eagerly checkpointing `pairs` to deduplicate its two
    # consumers (materializing the 9.9M-row pair stream costs at least
    # as much as re-planning its expansion, which is join-local off the
    # already-checkpointed signature groups); (b) semi-joining docs to
    # candidates BEFORE the explode+distinct (the optimizer's
    # PushDownLeftSemiAntiJoin already places the restriction below
    # the distinct, and the manual form serializes the explode behind
    # the full pair expansion instead of letting both run together).
    tok = tok.join(cand_ids, "doc_id", "left_semi").localCheckpoint(eager=True)
    # Top-64 selection is a classic top-k: orderBy().limit(64) plans as
    # TakeOrderedAndProject (per-partition partial top-k, fully
    # parallel). The previous row_number() over an UNPARTITIONED window
    # was a SinglePartition exchange + one-task sort over the entire
    # candidate vocabulary — 10^8+ rows through one task at corpus
    # scale, for 64 surviving rows. Bit assignment then runs over just
    # the 64-row result (the one single-partition step here, above a
    # limit — the acceptable class); same (df DESC, token ASC) order,
    # so the chosen tokens and their bit indices are unchanged.
    top = (
        tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(64)
        .withColumn(
            "bit",
            F.row_number().over(Window.orderBy(F.desc("df"), F.asc("token")))
            - 1,
        )
        .select("token", "bit")
    )
    enc = tok.join(F.broadcast(top), "token", "left")
    feats = enc.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CASE WHEN bit IS NOT NULL"
                    " THEN shiftleft(1L, CAST(bit AS INT)) END"
                )
            ),
            F.lit(0).cast("long"),
        ).alias("bmp"),
        F.sort_array(
            F.collect_set(F.when(F.col("bit").isNull(), F.col("token")))
        ).alias("rest"),
    )
    # feats feeds BOTH self-join sides; without a cut the whole encoding
    # subtree (df agg + top-64 + bitmap fold) is planned — and computed —
    # twice. One eager cut halves the verify stage's upstream work; the
    # checkpointed frame is one row per CANDIDATE doc (id, 2 longs, the
    # short rest array), far smaller than the corpus at any scale.
    feats = feats.localCheckpoint(eager=True)
    a = feats.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("bmp").alias("bmp_a"),
        F.col("rest").alias("rest_a"),
    )
    b = feats.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("bmp").alias("bmp_b"),
        F.col("rest").alias("rest_b"),
    )
    shared = F.bit_count(F.col("bmp_a").bitwiseAND(F.col("bmp_b"))).cast(
        "long"
    ) + F.size(F.array_intersect("rest_a", "rest_b"))
    jac = shared / (F.col("na") + F.col("nb") - shared)
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= VERIFY_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def verified_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH banding hits that survive the exact-Jaccard check.

    Candidate GENERATION uses the signature-collapsed expansion (same
    pair set, no 46M-row distinct); the exact-Jaccard verify still runs
    per DOC pair — token sets differ within a signature group, so the
    verify stage cannot be collapsed."""
    return exact_jaccard_on_pairs(
        docs, lsh_candidate_pairs_collapsed(docs)
    ).select("doc_a", "doc_b")


_VERIFIED_CTES = f"""
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id
),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
verified AS (
    SELECT p.doc_a, p.doc_b
    FROM pairs p
    JOIN shared s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE s.n_shared * 1.0 / (sa.n + sb.n - s.n_shared)
          >= {VERIFY_JACCARD_THRESHOLD}
)"""


@register(
    "dedup_verified_components",
    oracle=f"""
WITH RECURSIVE {_sig_ctes()},
{_banded_cte()},
pairs AS (
    {_PAIRS_SELECT}
),
{_VERIFIED_CTES.lstrip().replace("verified AS (", "verified AS MATERIALIZED (")},
{hybrid_cc_ctes("verified", "doc_a", "doc_b", "documents", "doc_id")}
SELECT node AS doc_id, root AS cluster_id FROM cc
""",
)
def dedup_verified_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SOUND dedup clustering: components over exact-verified edges
    only. A band-collision false positive can no longer merge two
    non-duplicate clusters (regression-pinned in test_llm_dedup)."""
    docs = t(spark, sf_dir, "documents")
    # trailing orderBy dropped — order-insensitive gate, corpus-sized
    # output (same rationale as dedup_components / r13's dedup_near)
    return component_labels(docs, verified_candidate_pairs(docs))


# ---------------------------------------------------------------------------
# N2b''' — representative selection: the FINAL dedup-pipeline step. Per
# duplicate cluster keep one document — the longest text, ties to the
# lowest doc_id (quality-keeps-the-fullest-copy policy) — and report the
# cluster size. One window over the component labels joined back to the
# docs: the labels are already materialized (localCheckpoint), so this
# adds a single shuffle on cluster_id.
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {_sig_ctes()},
{_banded_cte()},
{STAR_CC_CTES},
labels AS (
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM walk GROUP BY node
)
SELECT cluster_id, doc_id AS keep_id, text_len, n_members
FROM (
    SELECT l.cluster_id, l.doc_id,
           CAST(LENGTH(d.text) AS BIGINT) AS text_len,
           CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS n_members,
           ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                              ORDER BY LENGTH(d.text) DESC, l.doc_id) AS rn
    FROM labels l JOIN documents d ON d.doc_id = l.doc_id
)
WHERE rn = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    labeled = component_labels(docs).join(
        docs.select("doc_id", F.length("text").alias("text_len")), "doc_id"
    )
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.desc("text_len"), F.asc("doc_id"))
    return (
        labeled.select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("text_len").cast("bigint").alias("text_len"),
            F.count("*").over(w).alias("n_members"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# N2b' — MinHash signature CLUSTERING: docs whose full 16-slot signature is
# identical are treated as one near-dup cluster; output keeps the min doc_id
# per cluster. Unlike pair generation this is linear (one groupBy), which is
# the shape you actually run at 100 TB to dedupe a corpus.
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_cluster",
    oracle=f"""
WITH {_sig_ctes()}
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT)    AS n_members
FROM sig
GROUP BY MD5({" || '|' || ".join(f"CAST(mh_{i} AS VARCHAR)" for i in range(NUM_HASHES))})
""",
)
def dedup_minhash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs)
    # Cluster key = md5 of the concatenated signature: a fixed 32-hex
    # key instead of the ~150 B 16-number string, so the cluster shuffle
    # ships ~5x less key payload at corpus scale. Content-addressing by
    # md5 is the same move dedup_exact makes; the oracle mirrors the
    # identical MD5(concat) so the grouping is hash-checked, and a
    # cross-signature md5 collision (2^-128) is the accepted digest-key
    # semantics throughout the dedup block.
    sig_key = F.md5(
        F.concat_ws("|", *[F.col(f"mh_{i}") for i in range(NUM_HASHES)])
    )
    return (
        sig.groupBy(sig_key.alias("cluster_sig"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_members"),
        )
        .select("keep_id", "n_members")
    )


# ---------------------------------------------------------------------------
# N2c — SimHash 64-bit fingerprint: sign-sum of per-token hash bits.
# The per-token hash is md5 (identical hex in Spark and DuckDB); bit i of
# the fingerprint lives in hex digit i//4, bit i%4 — integer arithmetic
# throughout, so the oracle is exact. Bit 63's weight is MIN_LONG (DuckDB
# rejects 1<<63), the two's-complement value of that bit.
# ---------------------------------------------------------------------------

_MIN_LONG = -9223372036854775808


def _simhash_oracle() -> str:
    def bit(i: int) -> str:
        return f"(h1 >> {i}) & 1" if i < 60 else f"(h2 >> {i - 60}) & 1"

    bit_sums = ",\n      ".join(
        f"SUM(CASE WHEN {bit(i)} != 0 THEN 1 ELSE -1 END) AS bit_{i}"
        for i in range(64)
    )
    terms = " + ".join(
        f"(CASE WHEN bit_{i} > 0 THEN "
        + (f"{1 << i}::BIGINT" if i < 63 else f"({_MIN_LONG + 1} - 1)")
        + " ELSE 0 END)"
        for i in range(64)
    )
    return f"""
WITH tok AS (
    SELECT doc_id,
           ('0x' || substr(MD5(token), 1, 15))::BIGINT AS h1,
           ('0x' || substr(MD5(token), 16, 1))::BIGINT AS h2
    FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    )
),
sums AS (
    SELECT doc_id,
      {bit_sums}
    FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash
FROM sums
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # One md5 per token, split into a 60-bit half h1 (15 hex chars) and a
    # 4-bit tail h2 — the bit counters are then pure long shift/mask ops.
    # One groupBy — one shuffle, map-side combined. The wide expression
    # lists are built as SQL text (selectExpr / expr): constructing them
    # as Column trees costs ~2 s of py4j round-trips PER CALL, which
    # dominates the whole query.
    #
    # MEASURED AND REJECTED (round 4, do not retry): the zero-shuffle
    # in-row formulation — aggregate(transform(split(text))) with the
    # 23-long accumulator struct — is 2.7x SLOWER under a noop-sink
    # execution at sf0.1 (1.97s vs 0.73s best-of-4, bit-identical).
    # Higher-order-function lambdas run interpreted per element, while
    # the hash aggregate's conditional sums stay inside whole-stage
    # codegen; the exchange this shape pays is 23 longs/doc — trivial
    # next to the per-token CPU. (An earlier count()-based comparison
    # claimed the opposite because Catalyst pruned the unused simhash
    # column and skipped the md5 work entirely — measure map-heavy
    # expressions with a sink that consumes every column.)
    #
    # Bit-counter packing: bit i of the simhash is set iff more tokens
    # have hash-bit i set than clear, i.e. 2*ones_i > n. ones_i counters
    # are packed 3-per-long with 21-bit fields (sum((b_i)|(b_j<<21)|
    # (b_k<<42))), so 64 bits need 22 aggregates + count(*) instead of 64
    # conditional sums — measured 15% faster end-to-end, bit-identical.
    # Field width bounds per-doc token count at 2^21 (~2M tokens, ~10 MB
    # of text); beyond that, widen to 2 fields/long — the packing factor
    # is a knob, not a semantics change. The bound is ENFORCED at
    # runtime, not just documented: n (count per doc) is already in the
    # aggregate, so a doc at the limit raises instead of silently
    # overflowing a counter into the adjacent field.
    tok = docs.selectExpr(
        "doc_id", "explode(split(text, ' ')) AS token"
    ).selectExpr(
        "doc_id",
        f"{md5_long_sql('token')} AS h1",
        f"{md5_long_sql('token', start=16, length=1)} AS h2",
    )

    def _bit(i: int) -> str:
        return f"((h1 >> {i}) & 1)" if i < 60 else f"((h2 >> {i - 60}) & 1)"

    groups = [list(range(g, min(g + 3, 64))) for g in range(0, 64, 3)]
    aggs = [F.expr("count(*) AS n")]
    for gi, grp in enumerate(groups):
        packed = " + ".join(f"({_bit(i)} << {21 * p})" for p, i in enumerate(grp))
        aggs.append(F.expr(f"sum({packed}) AS s_{gi}"))
    sums = tok.groupBy("doc_id").agg(*aggs)
    terms = []
    for gi, grp in enumerate(groups):
        for p, i in enumerate(grp):
            ones = f"((s_{gi} >> {21 * p}) & 2097151)"
            val = f"{1 << i}L" if i < 63 else f"({_MIN_LONG + 1}L - 1L)"
            terms.append(f"(CASE WHEN 2 * {ones} > n THEN {val} ELSE 0L END)")
    guard = (
        "IF(n >= 2097152, CAST(raise_error('dedup_simhash: document with "
        ">= 2^21 tokens overflows the 21-bit packed counters; widen the "
        "packing to 2 fields per long') AS BIGINT), "
    )
    return sums.selectExpr("doc_id", guard + " + ".join(terms) + ") AS simhash")


# --- embedding-cosine near-duplicate pairs (N2 scale family) -----------------

from .similarity import _DIMS as _EMB_DIMS  # noqa: E402 — shared fixture dims


_EMB_LSH_TABLES = 4  # multi-table LSH: OR-amplified recall, still bucketed


def _embedding_cosine_oracle() -> str:
    """Mirror the multi-table sign-LSH candidate generation in SQL: the
    SAME md5-derived hyperplanes (tables 0..L-1 use plane indices
    ℓ*8..ℓ*8+7) are embedded as a VALUES table, so the candidate pair
    set — and therefore the exact result — is reproduced in DuckDB."""
    from .similarity import _N_PLANES, _plane

    rows = ", ".join(
        f"({tbl}, {p}, {d + 1}, {w!r})"
        for tbl in range(_EMB_LSH_TABLES)
        for p in range(_N_PLANES)
        for d, w in enumerate(_plane(tbl * _N_PLANES + p))
    )
    return f"""
WITH planes(tbl, p, i, w) AS (VALUES {rows}),
dots AS (
    SELECT e.vec_id, pl.tbl, pl.p,
           SUM(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w) AS dot
    FROM embeddings e JOIN planes pl ON TRUE
    GROUP BY e.vec_id, pl.tbl, pl.p
),
buckets AS (
    SELECT vec_id, tbl,
           CAST(SUM(CASE WHEN ROUND(dot, 6) > 0 THEN (1::BIGINT << p) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id, tbl
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
    SELECT c.id_a, c.id_b,
           SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dot,
           SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b,
    GENERATE_SERIES(1, {_EMB_DIMS}) AS t(i)
    GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM scored
WHERE dot / (SQRT(na) * SQRT(nb)) > 0.45
"""


def embedding_lsh_candidates(
    emb: DataFrame,
    n_tables: int = _EMB_LSH_TABLES,
    n_planes: int | None = None,
) -> DataFrame:
    """Multi-table sign-LSH candidate pairs (id_a < id_b) from an
    (vec_id, embedding) frame: each of the L independent b-plane tables
    contributes same-bucket pairs via ONE equi-join shuffle on
    (table, bucket) over an exploded signature — never an all-pairs
    theta join.

    Sizing (SCALE.md "LSH/IVF sizing"): for balanced buckets the
    expected candidate count is ≈ L·n²/2^(b+1) — QUADRATIC in n when b
    is fixed, so production callers must pass
    ``n_planes=lsh_planes_for(n)``, which holds expected bucket
    occupancy constant and makes the cost LINEAR (≈ L·n·occupancy/2).
    The default b=8 is the fixture pin the registered oracle encodes
    (n=500 → occupancy ≈ 2).

    Signature stage (round-14, guide §4.2): the L·b plane dots per row
    were interpreted zip_with+aggregate folds (HOFs are not codegen'd)
    — measured 2.77 s noop at sf0.1. Now ONE float64 (n × d) @ (d ×
    L·b) numpy matmul per Arrow batch with the bits packed vectorized:
    0.22 s (12.8×), bucket-for-bucket identical (subtract-checked both
    ways at sf0.1; tools/ab_emb_lsh.py keeps the losing JVM variant).
    The round-to-6dp-before-sign guard absorbs fold-order ulp
    differences between the BLAS sum and the JVM sequential fold —
    the same discipline that already pins Spark against DuckDB's
    unordered SUM. Only (vec_id, embedding) crosses the Python
    boundary (explicit select, §4.1)."""
    import numpy as np

    from .similarity import _N_PLANES, _embedding_matrix, _plane

    b_planes = n_planes if n_planes is not None else _N_PLANES
    planes_mat = np.array(
        [
            _plane(tbl * b_planes + p)
            for tbl in range(n_tables)
            for p in range(b_planes)
        ],
        dtype=np.float64,
    ).T  # (dims, n_tables*b_planes)
    id_type = dict(emb.dtypes)["vec_id"]

    def _sig_batches(batches):
        import numpy as np
        import pyarrow as pa

        n_t, n_p = planes_mat.shape[1] // b_planes, b_planes
        shifts = np.arange(n_p, dtype=np.int64)
        tbl_ids = np.arange(n_t, dtype=np.int32)
        for batch in batches:
            arr = batch.column("embedding")
            n = len(arr)
            if n == 0:
                continue
            dots = _embedding_matrix(arr, planes_mat.shape[0]) @ planes_mat
            # half-to-even np.round vs half-up F.round: see
            # similarity.sign_lsh_bucketed
            bits = (np.round(dots, 6) > 0).astype(np.int64)
            buckets = (bits.reshape(n, n_t, n_p) << shifts).sum(axis=2)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.asarray(batch.column("vec_id")), n_t)),
                    pa.array(np.tile(tbl_ids, n)),
                    pa.array(buckets.reshape(-1)),
                ],
                names=["vec_id", "tbl", "bucket"],
            )

    sig = emb.select("vec_id", "embedding").mapInArrow(
        _sig_batches, f"vec_id {id_type}, tbl int, bucket long"
    )
    # both self-join sides consume sig: materialize the signature stage
    # once instead of replaying it per side
    sig = sig.localCheckpoint(eager=True)
    return (
        sig.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
        .join(
            sig.select(F.col("vec_id").alias("id_b"), "tbl", "bucket"),
            on=["tbl", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@register("dedup_embedding_cosine", oracle=_embedding_cosine_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over MULTI-TABLE sign-LSH
    candidates (cos > threshold over the union of L=4 hash tables).

    The high-recall member of the two-phase dedup family: candidate
    generation is ``embedding_lsh_candidates`` (one (table, bucket)
    equi-join shuffle, never all-pairs), and only candidates get the
    exact JVM-side cosine verify. OR-ing tables amplifies recall (a
    true near-dup pair escapes only by disagreeing in all L tables);
    candidate cost is ≈ L·n²/2^(b+1) for balanced buckets — quadratic
    at the fixture-pinned b=8, so at scale b comes from
    ``lsh_planes_for(n)`` which holds it linear (see SCALE.md). Table 0
    uses the same hyperplanes as `dedup_embedding_ann`, so that
    single-table variant's candidate set (and result) is a provable
    subset of this one (pinned in test_mining, which also pins recall
    against exact all-pairs ground truth).
    """
    from .similarity import _dot

    emb = t(spark, sf_dir, "embeddings")
    cand = embedding_lsh_candidates(emb)
    # self-norms precomputed ONCE PER VECTOR and attached through the
    # joins: cosine() evaluates three interpreted dot-product folds per
    # pair, two of which (the norms) depend only on one side — per-pair
    # work drops to the single cross dot (3.7 s -> 1.9 s at sf0.1).
    # sqrt(dot(v, v)) is evaluated by the same expression as before,
    # just once per vector, so the doubles are bit-identical.
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    ea = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm.alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm.alias("norm_b"),
    )
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") > 0.45)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_sim"))
    )


# --- n-gram (shingle) Jaccard near-dup (N2, the shingled exact form) ---------


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(s[1:len(s)-2]) || ' ' || unnest(s[2:len(s)-1])
                   || ' ' || unnest(s[3:len(s)]) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
    )
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(shared * 1.0 / (sa.n + sb.n - shared), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-shingle Jaccard near-duplicate pairs — the n-gram form of
    dedup_jaccard (word reorderings that preserve unigram sets no longer
    count as duplicates). Shingling is a pure JVM higher-order
    expression; the shared-shingle equi-join is the candidate generator
    (at 100 TB the MinHash/LSH banding of dedup_near replaces it, with
    this as the verifier on candidates)."""
    docs = t(spark, sf_dir, "documents")
    # token array materialized before the transform: the lambda
    # references it per shingle element, and interpreted HOFs re-evaluate
    # an inline split() on every reference (see pipeline._shingles)
    toks = F.col("_toks")
    shingles = F.when(
        F.size(toks) >= 3,
        F.transform(
            # sequence() descends when stop < start, so the >=3 guard is
            # load-bearing for docs shorter than one shingle
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        docs.withColumn("_toks", F.split("text", " "))
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .distinct()
        # three consumers (self-join sides + size rollup)
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("shared") / (F.col("sa.n") + F.col("sb.n") - F.col("shared"))
    return (
        # no F.broadcast hint: the per-doc sizes table is corpus-sized,
        # and a forced broadcast hard-fails at Spark's 8 GB relation cap
        # on a large corpus. The planner still broadcasts at small scale
        # (stats from the checkpointed tok frame) and degrades to a
        # shuffle join at scale.
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# --- embedding near-dup at scale: sign-LSH bucketed candidate pairs ---------


def _embedding_ann_oracle() -> str:
    """Oracle: the SAME md5-derived hyperplanes as similarity_ann_lsh,
    embedded as a VALUES table, reproduce the bucket assignment — so the
    candidate PAIR SET (and the exact cosine over it) is deterministic
    and SQL-checkable, exactly like the brute-force baseline."""
    from .similarity import _N_PLANES, _plane

    rows = ", ".join(
        f"({p}, {d + 1}, {w!r})"
        for p in range(_N_PLANES)
        for d, w in enumerate(_plane(p))
    )
    return f"""
WITH planes(p, i, w) AS (VALUES {rows}),
dots AS (
    SELECT e.vec_id, pl.p,
           SUM(CAST(e.embedding[pl.i] AS DOUBLE) * pl.w) AS dot
    FROM embeddings e JOIN planes pl ON TRUE
    GROUP BY e.vec_id, pl.p
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN ROUND(dot, 6) > 0 THEN (1::BIGINT << p) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
    SELECT p.id_a, p.id_b,
           SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS dot,
           SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)) AS nb
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.id_a
    JOIN embeddings eb ON eb.vec_id = p.id_b,
    GENERATE_SERIES(1, {_EMB_DIMS}) AS t(i)
    GROUP BY p.id_a, p.id_b
)
SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM scored
WHERE dot / (SQRT(na) * SQRT(nb)) > 0.45
"""


@register("dedup_embedding_ann", oracle=_embedding_ann_oracle())
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs with SINGLE-table sign-LSH
    candidate pruning — the cheapest member of the two-phase family
    (`dedup_embedding_cosine` is the L-table OR-amplified form using
    the same table-0 hyperplanes).

    Same exact-cosine verifier, but the pair space is restricted to
    vectors sharing an 8-bit hyperplane sign bucket: the self-join runs
    on the bucket key (≈n²/2^8 candidate pairs for balanced buckets,
    and the join itself shuffles each side once on the bucket), never
    all-pairs. At 100 TB this is the standard two-phase semantic-dedup
    pipeline: cheap signature → bucket join → exact verify; recall is
    traded by bucket count exactly as in similarity_ann_lsh.
    """
    from .similarity import cosine, sign_lsh_bucketed

    emb = sign_lsh_bucketed(t(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("bucket").alias("bucket_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        b,
        (F.col("bucket_a") == F.col("bucket_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") > 0.45)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_sim"))
    )


# --- SemDeDup: semantic dedup within coarse-quantizer cells ------------------
# (Abbas et al. 2023 "SemDeDup" shape): cluster the corpus with the IVF
# coarse quantizer, then prune near-duplicates ONLY within each cell —
# the quadratic cosine verify runs per cell (n/K per cell in
# expectation), never corpus x corpus. A pruned vector reports its
# keeper (the smallest same-cell near-dup), how many near-dups it has
# in-cell, and the strongest similarity. The quantizer is the shared
# relational one (similarity.py _CELLS_CTE), so the WHOLE pipeline —
# assignment, pairing, verification, pruning — is oracle-exact.
# Scale: one mapInPandas assignment scan + one shuffle on cell; at
# 100 TB the corpus is written partitioned by cell (the IVF-as-layout
# argument) and each cell's pair verify is an independent task.

_SEMDEDUP_COS = 0.45


def _semdedup_oracle() -> str:
    from .similarity import _CELLS_CTE

    return f"""
WITH {_CELLS_CTE},
pairs AS (
    SELECT ca.vec_id AS id_a, cb.vec_id AS id_b,
           SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
           SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na,
           SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb
    FROM cells ca
    JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
    JOIN embeddings a ON a.vec_id = ca.vec_id
    JOIN embeddings b ON b.vec_id = cb.vec_id,
    GENERATE_SERIES(1, {_EMB_DIMS}) AS t(i)
    GROUP BY ca.vec_id, cb.vec_id
),
near AS (
    SELECT id_a, id_b, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
    FROM pairs
    WHERE dot / (SQRT(na) * SQRT(nb)) > {_SEMDEDUP_COS}
)
SELECT id_b AS pruned_vec_id,
       MIN(id_a) AS keeper_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_near,
       MAX(cos_sim) AS max_cos
FROM near
GROUP BY id_b
"""


@register("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _cell_assignments, _ivf_centroids, cosine

    emb = t(spark, sf_dir, "embeddings")
    centroids, cnorms = _ivf_centroids(spark, sf_dir)
    # (vec_id, cell) is consumed by BOTH sides of the self-join below;
    # without a lineage cut each branch re-runs the full-corpus
    # mapInPandas matmul (2 Python stages + 4 corpus scans in the
    # physical plan). Materialize the 16-byte/row proxy once —
    # triangle_counts' fan-out pattern — so the matmul runs once and
    # each branch joins against the tiny checkpointed table.
    cells = _cell_assignments(emb, centroids, cnorms).localCheckpoint(
        eager=True
    )
    sided = emb.join(cells, "vec_id")
    a = sided.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        "cell",
    )
    b = sided.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        "cell",
    )
    near = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("raw_cos", cosine(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("raw_cos") > _SEMDEDUP_COS)
        .select("id_a", "id_b", F.round("raw_cos", 6).alias("cos_sim"))
    )
    return near.groupBy(F.col("id_b").alias("pruned_vec_id")).agg(
        F.min("id_a").alias("keeper_vec_id"),
        F.count("*").alias("n_near"),
        F.max("cos_sim").alias("max_cos"),
    )


# N1c — normalization-canonical dedup: exact dedup AFTER text
# normalization (the composition every web-corpus pipeline runs —
# lowercase/punct-strip/whitespace-collapse first, so cosmetic variants
# collapse; catches what byte-exact md5 misses and is cheaper than
# near-dup). Same single map-side-combined digest shuffle as
# dedup_exact_groups.


@register(
    "dedup_normalized_groups",
    oracle="""
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT)    AS n_copies
FROM documents
GROUP BY MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')))
""",
)
def dedup_normalized_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        docs.groupBy(F.md5(norm))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# N1i — INCREMENTAL exact dedup: the append path of a live corpus. A
# deduplicated corpus already exists (here: docs whose md5-derived
# bucket < 8 of 10 — a deterministic stand-in for "yesterday's
# corpus"); a new crawl batch arrives (the other buckets). A new doc
# survives iff (a) its content digest matches nothing in the existing
# corpus — LEFT ANTI against the digest STORE, not the corpus text —
# and (b) it is the first occurrence of its digest within the batch.
#
# Scale shape: the store is digests only (16 B/doc, written bucketed by
# digest at corpus-build time), so the anti-join shuffles the NEW BATCH
# only against a bucket-pruned store read — the 100-TB corpus text is
# never touched. The within-batch tiebreak windows over the same digest
# partitioning the anti-join just produced.
# ---------------------------------------------------------------------------

_INC_BUCKET = f"{md5_long_sql('cast(doc_id AS string)')} % 10"
_INC_BUCKET_DUCK = f"({md5_long_duck('CAST(doc_id AS VARCHAR)')} % 10)"


@register(
    "dedup_incremental",
    oracle=f"""
WITH existing AS (
    SELECT MD5(text) AS digest FROM documents WHERE {_INC_BUCKET_DUCK} < 8
),
batch AS (
    SELECT doc_id, source, MD5(text) AS digest
    FROM documents WHERE {_INC_BUCKET_DUCK} >= 8
)
SELECT b.doc_id, b.source
FROM (
    SELECT doc_id, source, digest,
           ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
    FROM batch
) b
WHERE b.rn = 1
  AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.digest = b.digest)
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = F.expr(_INC_BUCKET)
    existing = docs.filter(bucket < 8).select(F.md5("text").alias("digest"))
    batch = docs.filter(bucket >= 8).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    w = Window.partitionBy("digest").orderBy("doc_id")
    first_in_batch = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        first_in_batch.join(existing, "digest", "left_anti")
        .select("doc_id", "source")
    )
