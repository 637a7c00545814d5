"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Queries exercise the engine's operators (SURVEY.md §2) over the driver's
``documents`` / ``embeddings`` tables; the bm25_* queries run the FULL
packed index (VByte segments + Block-Max WAND) — the flagship path — so
the external DuckDB gate checks the code the engine ships. The flat
expression-form path remains a pytest cross-check against the same
oracle on the synthetic transcript corpus.

Conventions for oracle parity:
* every computed column aliased identically on both sides;
* float columns rounded to 6dp on both sides;
* every top-k has a TOTAL order (ties broken by id columns) even though the
  driver compare is order-insensitive — keeps the k-boundary deterministic.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine.analyzer import tokenize_expr  # noqa: E402
from engine.config import DEFAULT  # noqa: E402

_K1, _B = DEFAULT.bm25.k1, DEFAULT.bm25.b
_TOK_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# queries with NO oracle_sql twin — empty since r3: media_features now
# derives payloads from the documents table and features from md5(payload)
# (portable), so even the mapInPandas media pipeline is hash-gated.
NO_ORACLE: set[str] = set()

# synthetic corpus recency epoch: 2026-01-01T00:00:00 UTC (see
# _corpus_from_documents; the DuckDB twins recompute ts arithmetically)
_TS_EPOCH0 = 1767225600
# recency-boost gate constants: now = 2026-07-01T00:00:00 UTC (181 days
# after epoch0 -> every doc has positive age), half-life 30 days
_BOOST_NOW_ISO = "2026-07-01T00:00:00"
_BOOST_NOW_S = _TS_EPOCH0 + 181 * 86400
_BOOST_HL_DAYS = 30.0
# decay-function gate constants (ES function_score gauss/linear;
# engine/docvalues.py decay_multiplier): origin mid-corpus (day 90) so
# the two-sided |ts - origin| matters, 7-day flat offset radius
_DECAY_ORIGIN_ISO = "2026-04-01T00:00:00"
_DECAY_ORIGIN_S = _TS_EPOCH0 + 90 * 86400
_DECAY_SCALE_DAYS = 45.0
_DECAY_OFFSET_DAYS = 7.0
# gauss sigma^2 = -scale^2 / (2 ln 0.5); linear s = scale / (1 - 0.5)
_DECAY_SIGMA2 = -((_DECAY_SCALE_DAYS * 86400.0) ** 2) / (
    2.0 * math.log(0.5))
_DECAY_LINEAR_S = 30.0 * 86400.0 / 0.5
# SQL twin of decay_multiplier's dist = max(0, |ts - origin| - offset)
# (ts recomputed arithmetically: epoch0 + (doc_id % 180) days)
_DECAY_DIST_SQL = (
    f"greatest(abs(({_TS_EPOCH0} + (doc_id % 180) * 86400) "
    f"- {_DECAY_ORIGIN_S})::DOUBLE - {_DECAY_OFFSET_DAYS * 86400.0!r}, 0)")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _corpus_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the driver's documents table to the engine's contractual
    transcript shape (conv_id, turn_idx, role, text, tool, ts). conv_id is
    zero-padded doc_id so the stable (conv_id, turn_idx) order == doc_id
    order -> engine-assigned dense doc_ids equal the table's doc_ids.
    lang/source ride along as extra metadata columns: the engine's stored
    corpus preserves any columns beyond the contract six, which is what
    query-time doc_filter predicates (bm25_filtered) filter on.

    ts is a deterministic synthetic recency: epoch(2026-01-01 UTC) +
    (doc_id % 180) days — a VARYING stored timestamp so the recency-boost
    and sort-by-field gates rank on real spread, recomputed arithmetically
    by the DuckDB twins (the driver's documents table has no ts column)."""
    return docs.select(
        F.format_string("conv-%012d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.timestamp_seconds(F.lit(_TS_EPOCH0)
                            + (F.col("doc_id") % 180) * F.lit(86400))
        .alias("ts"),
        F.col("lang"),
        F.col("source"),
        # deliberately-sparse attribute (NULL on every 7th doc): the
        # missing-agg gate needs real NULLs — the table's own columns
        # have none
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("source")).alias("src_opt"),
    )


# --------------------------------------------------------------------------
# entry: flagship query (smoke at sf0.001)
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Build the engine's PACKED index (VByte segments + block-max
    metadata) over the sf0.001 documents corpus and run the flagship BM25
    top-10 WAND search, materialized back to text."""
    from engine import query as Q
    idx = _packed_index(spark, "/root/testdata/sf0.001")
    top = Q.search(idx, "spark join fast", k=10, mode="OR")
    return Q.materialize_packed(idx, top)


# --------------------------------------------------------------------------
# engine-path BM25 over documents (runs the REAL index build + query):
# the packed VByte/delta segment index queried with Block-Max WAND — the
# flagship path the engine ships (VERDICT r1 top item: the external
# DuckDB gate must exercise it; the flat path stays a pytest cross-check).
# --------------------------------------------------------------------------

_PACKED_IDX_CACHE: dict = {}


def _packed_index(spark: SparkSession, sf_dir: str, positions: bool = False):
    """Build-once packed index per (session, corpus[, positions]) — the
    index build is a separate pipeline stage from query execution, so the
    bm25_* queries share one build (mirrors real usage: build once, query
    many). ``positions=True`` builds the phrase-capable layout (poss
    stream) — a separate physical index, like a real deployment choosing
    its schema. Both layouts store (lang, source, ts) docvalue columns
    (engine/docvalues.py) so the dv_filter / recency-boost /
    sort-by-field gates run against the same shared build."""
    import tempfile
    from engine.build import build_index
    from engine.config import IndexConfig
    key = (spark.sparkContext.applicationId, sf_dir, positions)
    if key not in _PACKED_IDX_CACHE:
        d = tempfile.mkdtemp(prefix="entry_idx_")
        cfg = IndexConfig(index_positions=positions,
                          doc_values=("lang", "source", "ts", "src_opt"),
                          fuzzy_edits=2)
        _PACKED_IDX_CACHE[key] = build_index(
            spark, _corpus_from_documents(_docs(spark, sf_dir)), d,
            cfg=cfg)
    return _PACKED_IDX_CACHE[key]


_MF_IDX_CACHE: dict = {}


def _mf_index(spark: SparkSession, sf_dir: str):
    """Build-once MULTI-FIELD index per (session, corpus): lang + source
    indexed as their own field-prefixed term spaces alongside text
    (IndexConfig.extra_fields — engine/pack.py, engine/query.py
    search_multi_match). A separate physical index from _packed_index
    (whose single-field lexicon stats the index_stats gate freezes)."""
    import tempfile
    from engine.build import build_index
    from engine.config import IndexConfig
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MF_IDX_CACHE:
        d = tempfile.mkdtemp(prefix="entry_mfidx_")
        cfg = IndexConfig(extra_fields=("lang", "source"))
        _MF_IDX_CACHE[key] = build_index(
            spark, _corpus_from_documents(_docs(spark, sf_dir)), d,
            cfg=cfg)
    return _MF_IDX_CACHE[key]


_MULTI_IDX_CACHE: dict = {}


def _multi_indexes(spark: SparkSession, sf_dir: str):
    """Two member indexes over a conv_id prefix split of documents (the
    federated-search gate, engine/multi.py): the split is by stable
    corpus order, so member doc_ids map to the table's doc_ids by offset
    (member 0: identity; member 1: + n_docs(member 0))."""
    import tempfile
    from engine.build import build_index
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MULTI_IDX_CACHE:
        docs = _docs(spark, sf_dir)
        n = docs.count()
        corpus = _corpus_from_documents(docs)
        cut = f"conv-{n // 2:012d}"  # zero-padded: string order == id order
        a = build_index(spark, corpus.filter(F.col("conv_id") < cut),
                        tempfile.mkdtemp(prefix="entry_midx_a_"))
        b = build_index(spark, corpus.filter(F.col("conv_id") >= cut),
                        tempfile.mkdtemp(prefix="entry_midx_b_"))
        _MULTI_IDX_CACHE[key] = (a, b)
    return _MULTI_IDX_CACHE[key]


_STREAM_IDX_CACHE: dict = {}


def _incremental_index(spark: SparkSession, sf_dir: str):
    """Build-once incremental index per (session, corpus): the documents
    corpus split into two halves by doc_id, indexed via two append_batch
    calls + compact — the streaming pipeline (engine/streaming.py) built
    externally so the driver's DuckDB gate exercises it. Arrival order ==
    doc_id order, so engine doc_ids equal the table's doc_ids (the same
    contract as _corpus_from_documents)."""
    import tempfile
    from engine.streaming import append_batch, compact, create_streaming_index
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STREAM_IDX_CACHE:
        d = tempfile.mkdtemp(prefix="entry_sidx_")
        docs = _docs(spark, sf_dir)
        n = docs.count()
        corpus = _corpus_from_documents(docs)
        cut = f"conv-{n // 2:012d}"  # zero-padded: string order == id order
        create_streaming_index(spark, d, expected_docs=n)
        append_batch(spark, corpus.filter(F.col("conv_id") < cut), d)
        append_batch(spark, corpus.filter(F.col("conv_id") >= cut), d)
        _STREAM_IDX_CACHE[key] = compact(spark, d)
    return _STREAM_IDX_CACHE[key]


_HYBRID_IDX_CACHE: dict = {}


def _hybrid_index(spark: SparkSession, sf_dir: str):
    """BATCH-built first half (offsets corpus layout, no doc_id stored) +
    streaming append of the second half (doc_id stored) + compact — the
    mixed-lifecycle index (r3: engine/build.py corpus() mixed layout,
    docids.read_with_doc_ids(mixed=True), streaming sum_dl seeding),
    built externally so the driver's DuckDB gate exercises it. Halves
    split by conv_id (string order == doc_id order), so engine doc_ids
    equal the table's doc_ids across both build paths."""
    import tempfile
    from engine.build import build_index
    from engine.streaming import append_batch, compact
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _HYBRID_IDX_CACHE:
        d = tempfile.mkdtemp(prefix="entry_hidx_")
        docs = _docs(spark, sf_dir)
        n = docs.count()
        corpus = _corpus_from_documents(docs)
        cut = f"conv-{n // 2:012d}"  # zero-padded: string order == id order
        build_index(spark, corpus.filter(F.col("conv_id") < cut), d)
        append_batch(spark, corpus.filter(F.col("conv_id") >= cut), d)
        _HYBRID_IDX_CACHE[key] = compact(spark, d)
    return _HYBRID_IDX_CACHE[key]


_DELETED_IDX_CACHE: dict = {}


def _deleted_index(spark: SparkSession, sf_dir: str, purge: bool = False):
    """Build-once tombstoned index per (session, corpus, purge): packed
    build + delete-by-query (lang = 'en' — ~44% of the corpus, so the
    mask provably bites), optionally followed by the physical purge
    (engine/deletes.py) — the full delete lifecycle built externally so
    the driver's DuckDB gate exercises it. Two separate dirs: the gates
    may run in any order, and purge mutates state the tombstone gate
    needs intact."""
    import tempfile
    from engine.build import build_index
    from engine.deletes import delete_docs, purge_deletes
    key = (spark.sparkContext.applicationId, sf_dir, purge)
    if key not in _DELETED_IDX_CACHE:
        d = tempfile.mkdtemp(prefix="entry_didx_")
        idx = build_index(spark, _corpus_from_documents(_docs(spark, sf_dir)),
                          d)
        delete_docs(idx, "lang = 'en'")
        if purge:
            idx = purge_deletes(idx)
        _DELETED_IDX_CACHE[key] = idx
    return _DELETED_IDX_CACHE[key]


def _adaptive_planes_sf001() -> int:
    """The LSH plane count BOTH sides of the knn/near-dup gate resolve at
    the driver's compare scale (sf0.01): data-scaled via
    similarity.adaptive_n_planes, with the row count read from the
    parquet footer (no Spark). The fixed-8 variant remains a pytest
    cross-check; the gate now runs the production (adaptive) path."""
    from engine.similarity import adaptive_n_planes
    import pyarrow.parquet as pq
    # no silent fallback: a missing/unreadable testdata file must fail
    # loudly here, not surface as a wrong-answer gate mismatch. Note the
    # lo-clamp in adaptive_n_planes means every n <= 4096 resolves to 4
    # planes, so the sf0.001 pytest twin and this sf0.01 driver twin
    # agree by construction, not by luck.
    n = pq.ParquetFile(
        "/root/testdata/sf0.01/embeddings.parquet").metadata.num_rows
    return adaptive_n_planes(n)


_ANN_LAYOUT_CACHE: dict = {}


def _ann_layout(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Write-once physical ANN layout per (session, corpus): embeddings
    partitioned by LSH bucket ('lsh') or IVF cell ('ivf') — the index
    build stage of the similarity pipeline; queries prune at the scan."""
    import tempfile
    from engine.similarity import write_embeddings_ivf, write_embeddings_lsh
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _ANN_LAYOUT_CACHE:
        d = tempfile.mkdtemp(prefix=f"ann_{kind}_")
        if kind == "lsh":
            write_embeddings_lsh(_emb(spark, sf_dir), d, n_planes=8)
        else:
            write_embeddings_ivf(_emb(spark, sf_dir), d, _ivf_codebook())
        _ANN_LAYOUT_CACHE[key] = d
    return _ANN_LAYOUT_CACHE[key]


# the mixed E9 gate set (batch_mixed): BM25 OR / AND / NOT + phrase +
# phrase-NOT in ONE search_batch job over the positions index
_BATCH_MIXED_SET = [
    {"id": "m1", "query": "spark join fast", "mode": "OR"},
    {"id": "m2", "query": "hash join merge", "mode": "AND"},
    {"id": "m3", "query": "table hash", "mode": "PHRASE"},
    {"id": "m4", "query": "spark join", "mode": "OR", "exclude": "hash"},
    {"id": "m5", "query": "spark", "mode": "PHRASE", "exclude": "join"},
    {"id": "m6", "mode": "BOOL", "must": "spark", "should": "join fast",
     "min_should_match": 1},
    {"id": "m7", "query": "spark join fast", "mode": "OR",
     "demote": "hash", "demote_factor": 0.3},
    {"id": "m8", "mode": "DIS_MAX",
     "queries": ["spark join", "fast vector"], "tie_breaker": 0.3},
    {"id": "m9", "query": "spark join fast", "mode": "OR",
     "dv_filter": "lang = 'en'"},
]


# the batch-snippets gate set (batch_snippets): OR / AND / NOT entries,
# snippets for the whole set in ONE extra pruned-scan job, each row
# anchored on its own query's terms (materialize_snippets_batch)
_BATCH_SNIP_SET = [
    {"id": "s1", "query": "spark join fast", "mode": "OR"},
    {"id": "s2", "query": "hash join merge", "mode": "AND"},
    {"id": "s3", "query": "spark join", "mode": "OR", "exclude": "hash"},
]


def _batch_mixed_sql(k: int = 10) -> str:
    parts = []
    for q in _BATCH_MIXED_SET:
        excl = q["exclude"].split() if q.get("exclude") else None
        if q["mode"] == "DIS_MAX":
            sub = _dis_max_sql([x.split() for x in q["queries"]],
                               q.get("tie_breaker", 0.0), k)
            parts.append(f"SELECT '{q['id']}' AS qid, doc_id, score "
                         f"FROM ({sub})")
            continue
        # per-entry dv_filter twin: the same candidate-restriction SQL
        # as the doc_filter twin (stats stay corpus-global)
        where = q.get("dv_filter")
        if q["mode"] == "BOOL":
            must = q.get("must", "").split()
            terms = must + q.get("should", "").split()
            sub = _bm25_sql(terms, "OR", k, exclude=excl, must_terms=must,
                            min_should=int(q.get("min_should_match", 0)))
            parts.append(f"SELECT '{q['id']}' AS qid, doc_id, score "
                         f"FROM ({sub})")
            continue
        terms = q["query"].split()
        if q["mode"] == "PHRASE":
            sub = _phrase_sql(terms, k, exclude=excl)
            sel = (f"SELECT '{q['id']}' AS qid, doc_id, "
                   f"round(n_phrase::DOUBLE, 6) AS score FROM ({sub})")
        else:
            bm = None
            if q.get("demote"):
                # boosting entry: same CASE multiplier twin as
                # bm25_boosting, over this entry's own scored CTE
                dts = ", ".join(f"'{t}'"
                                for t in sorted(q["demote"].split()))
                bm = (f"CASE WHEN doc_id IN (SELECT DISTINCT doc_id "
                      f"FROM toks WHERE term IN ({dts})) "
                      f"THEN {q['demote_factor']!r} ELSE 1.0 END")
            sub = _bm25_sql(terms, q["mode"], k, exclude=excl,
                            boost_mult=bm, where=where)
            sel = f"SELECT '{q['id']}' AS qid, doc_id, score FROM ({sub})"
        parts.append(sel)
    return "\nUNION ALL\n".join(parts)


def _bm25_engine(spark: SparkSession, sf_dir: str, query: str, mode: str,
                 exclude: str | None = None,
                 min_match: int | None = None,
                 term_boosts: dict | None = None) -> DataFrame:
    from engine import query as Q
    idx = _packed_index(spark, sf_dir)
    top = Q.search(idx, query, k=10, mode=mode, exclude=exclude,
                   min_match=min_match, term_boosts=term_boosts)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_bool_engine(spark: SparkSession, sf_dir: str, must: str,
                      should: str, msm: int | None = None,
                      exclude: str | None = None) -> DataFrame:
    from engine import query as Q
    idx = _packed_index(spark, sf_dir)
    top = Q.search_bool(idx, must, should, k=10, min_should_match=msm,
                        exclude=exclude)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_prefix_engine(spark: SparkSession, sf_dir: str, prefix: str,
                        max_expansions: int = 64) -> DataFrame:
    from engine import query as Q
    idx = _packed_index(spark, sf_dir)
    top = Q.search_prefix(idx, prefix, k=10, max_expansions=max_expansions)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_fuzzy_engine(spark: SparkSession, sf_dir: str, term: str,
                       max_edits: int = 1,
                       max_expansions: int = 50) -> DataFrame:
    from engine import query as Q
    idx = _packed_index(spark, sf_dir)
    top = Q.search_fuzzy(idx, term, k=10, max_edits=max_edits,
                         max_expansions=max_expansions)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def _bm25_fuzzy_sql(term: str, max_edits: int = 1, k: int = 10,
                    max_expansions: int = 50) -> str:
    """DuckDB twin of ``engine.query.search_fuzzy``: candidates are the
    vocabulary terms within ``max_edits`` plain Levenshtein of the query
    term — computed here with DuckDB's built-in ``levenshtein`` over the
    WHOLE vocab, while the engine uses its indexed SymSpell
    deletion-neighborhood lookup, so the gate checks the SEMANTICS and
    would catch a completeness bug in the deletion trick. Frozen cap:
    (distance ASC, df DESC, term ASC) LIMIT n; the expansion scores as
    BM25 OR with qtf=1 per matched term, each keeping its own idf."""
    return f"""
WITH dl AS (
  SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
exp AS (
  SELECT term, df FROM (
    SELECT term, df, levenshtein(term, '{term}') AS dist FROM dfreq
  ) WHERE dist <= {max_edits}
  ORDER BY dist ASC, df DESC, term ASC
  LIMIT {max_expansions}
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (s.n - exp.df + 0.5) / (exp.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN exp USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _suggest_sql(qterms: list[str], max_edits: int = 1, n: int = 3) -> str:
    """DuckDB twin of ``engine.fuzzy.suggest_terms`` (did-you-mean, ES
    term-suggester in suggest_mode=always): per query token, the top n
    vocabulary terms within ``max_edits`` plain Levenshtein under the
    frozen cap order (distance ASC, df DESC, term ASC) — computed here
    with DuckDB's ``levenshtein`` over the WHOLE vocabulary while the
    engine uses the indexed deletion-neighborhood lookup, so the gate
    checks candidate COMPLETENESS, not just the ranking rule."""
    vals = ", ".join(f"('{t}')" for t in sorted(set(qterms)))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (SELECT DISTINCT doc_id, term FROM toks),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
qt(qterm) AS (VALUES {vals}),
cand AS (
  SELECT qt.qterm, d.term AS suggestion,
         levenshtein(d.term, qt.qterm)::INT AS dist, d.df
  FROM qt CROSS JOIN dfreq d
  WHERE levenshtein(d.term, qt.qterm) <= {int(max_edits)}
),
ranked AS (
  SELECT qterm, suggestion, dist, df,
         row_number() OVER (PARTITION BY qterm
                            ORDER BY dist ASC, df DESC, suggestion ASC)
           AS rn
  FROM cand
)
SELECT qterm AS term, rn::INT AS pos, suggestion, dist, df AS sugg_df
FROM ranked WHERE rn <= {int(n)} ORDER BY term ASC, pos ASC
"""


def _suggest_phrase_sql(qtoks: list[str], max_edits: int = 1, n: int = 3,
                        per_term: int = 3) -> str:
    """DuckDB twin of ``engine.fuzzy.suggest_phrase``: per-token top
    ``per_term`` vocabulary candidates within ``max_edits`` Levenshtein
    (frozen cap: dist ASC, df DESC, term ASC; verbatim df=0 fallback
    slot when the radius is empty), cartesian product, frozen unigram
    score ``sum ln((df+1)/(N+1)) - 2.0 * edits`` — candidates found by
    scanning the WHOLE vocabulary with DuckDB's levenshtein (the engine
    uses the indexed deletion neighborhood), so the gate checks slot
    completeness as well as the product/rank rule."""
    from engine.fuzzy import PHRASE_EDIT_PENALTY
    slots = []
    for i, t in enumerate(qtoks):
        slots.append(f"""
cand_{i} AS (
  SELECT term, levenshtein(term, '{t}')::INT AS dist, df,
         row_number() OVER (ORDER BY levenshtein(term, '{t}') ASC,
                            df DESC, term ASC) AS rn
  FROM dfreq WHERE levenshtein(term, '{t}') <= {int(max_edits)}
),
slot_{i} AS (
  SELECT term, dist, df FROM cand_{i} WHERE rn <= {int(per_term)}
  UNION ALL
  SELECT '{t}', 0, 0::BIGINT
  WHERE NOT EXISTS (SELECT 1 FROM cand_{i})
)""")
    ids = range(len(qtoks))
    phrase = " || ' ' || ".join(f"s{i}.term" for i in ids)
    edits = " + ".join(f"s{i}.dist" for i in ids)
    logs = " + ".join(f"ln((s{i}.df + 1)::DOUBLE / (nc.n + 1))"
                      for i in ids)
    froms = ", ".join(f"slot_{i} s{i}" for i in ids)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (SELECT DISTINCT doc_id, term FROM toks),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nc AS (SELECT count(*)::BIGINT AS n FROM documents),
{",".join(slots)}
SELECT phrase, n_edits, round(score, 6) AS score FROM (
  SELECT {phrase} AS phrase, ({edits})::INT AS n_edits,
         {logs} - {PHRASE_EDIT_PENALTY!r} * ({edits}) AS score
  FROM {froms}, nc
)
ORDER BY score DESC, phrase ASC LIMIT {int(n)}
"""


def _bm25_regexp_sql(pattern: str, k: int = 10,
                     max_expansions: int = 64) -> str:
    """DuckDB twin of ``engine.query.search_regexp``: the pattern
    expands to the <= max_expansions vocabulary terms FULLY matching it
    (``regexp_full_match`` — the engine anchors RLIKE the same way;
    patterns stay in the Java/RE2 common subset), capped df DESC, term
    ASC; the expansion scores as BM25 OR with weight 1 per matched
    term, each keeping its own global idf."""
    return f"""
WITH dl AS (
  SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE regexp_full_match(term, '{pattern}') GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
exp AS (
  SELECT term, df FROM dfreq ORDER BY df DESC, term ASC
  LIMIT {max_expansions}
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (s.n - exp.df + 0.5) / (exp.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN exp USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _sig_terms_sql(qterms: list[str], n: int = 8, sample: int = 50,
                   min_fg: int = 1) -> str:
    """DuckDB twin of ``engine.matchops.significant_terms`` (JLH): the
    foreground is the BM25 top-``sample`` of the OR query (same frozen
    constants/idf/tie-break as every bm25 twin), fg_count = foreground
    docs containing the term, bg_count = corpus df, and

        score = (fg/S - bg/N) * ((fg/S) / (bg/N))

    over exact integers — the identical IEEE expression the engine
    evaluates. The top-n cut orders on the UNROUNDED score (subquery)
    so the boundary can never depend on display rounding."""
    in_list = ", ".join(f"'{t}'" for t in sorted(set(qterms)))
    return f"""
WITH dl AS (
  SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN ({in_list}) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl)))
           AS score
  FROM tf JOIN dfreq d ON d.term = tf.term
  JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
fgdocs AS (
  SELECT doc_id FROM scored ORDER BY score DESC, doc_id ASC LIMIT {sample}
),
sn AS (SELECT count(*)::BIGINT AS s_n FROM fgdocs),
fgc AS (
  SELECT term, count(DISTINCT t.doc_id)::BIGINT AS fg_count
  FROM toks t JOIN fgdocs USING (doc_id) GROUP BY term
),
bgc AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_count
  FROM toks GROUP BY term
),
sig AS (
  SELECT fgc.term, fg_count, bg_count,
         ((fg_count::DOUBLE / sn.s_n) - (bg_count::DOUBLE / s.n))
         * ((fg_count::DOUBLE / sn.s_n) / (bg_count::DOUBLE / s.n))
           AS score
  FROM fgc JOIN bgc USING (term) CROSS JOIN sn CROSS JOIN stats s
  WHERE fgc.term NOT IN ({in_list}) AND fg_count >= {int(min_fg)}
)
SELECT term, fg_count, bg_count, round(score, 6) AS score
FROM (SELECT * FROM sig ORDER BY score DESC, term ASC LIMIT {int(n)})
ORDER BY score DESC, term ASC
"""


def _bm25_prefix_sql(prefix: str, k: int = 10,
                     max_expansions: int = 64) -> str:
    """DuckDB twin of ``engine.query.search_prefix``: the wildcard
    ``prefix*`` expands to the <= max_expansions matching vocabulary
    terms — highest df first, term ascending on ties (the engine's
    frozen deterministic cap rule, replicated here as ORDER BY df DESC,
    term LIMIT n) — and the expansion scores as BM25 OR with query-term
    weight 1 per matched term, each term keeping its own global idf."""
    return f"""
WITH dl AS (
  SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term LIKE '{prefix}%' GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
exp AS (
  SELECT term, df FROM dfreq ORDER BY df DESC, term ASC
  LIMIT {max_expansions}
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (s.n - exp.df + 0.5) / (exp.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN exp USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _bm25_sql(query_terms: list[str], mode: str, k: int = 10,
              exclude: list[str] | None = None,
              where: str | None = None, offset: int = 0,
              boost_mult: str | None = None,
              boost_add: str | None = None,
              corpus_where: str | None = None,
              min_match: int | None = None,
              weights: dict | None = None,
              collapse_field: str | None = None,
              collapse_hits: int = 1,
              must_terms: list | None = None,
              min_should: int = 0,
              rank_only: bool = False,
              raw_score: bool = False,
              tok_sql: str | None = None) -> str:
    """DuckDB BM25 (identical frozen constants/idf) over documents.

    NOT semantics (frozen, documented in engine/query.py): an excluded
    term that is ALSO a positive query term is dropped from the exclusion
    set — mirrored here so oracle and engine agree on the contract.

    ``where``: doc_filter twin — restricts CANDIDATE docs only; N, avgdl
    and df/idf stay corpus-global (the engine's frozen filter semantics),
    which is why the restriction sits in the scored CTE, after dfreq.

    ``boost_mult``: recency-boost twin — a SQL expression over doc_id
    multiplying the frozen BM25 sum AFTER summation (the engine's exact
    operation order, engine/query.py _score_shard_batch); ranking
    and rounding both apply to the boosted score.

    ``corpus_where``: the PURGE twin (engine/deletes.py purge_deletes) —
    unlike ``where`` (tombstone/doc_filter semantics: candidates
    restricted, stats global), this filters the CORPUS itself, so N,
    avgdl, df and idf are all recomputed over the surviving docs — the
    post-purge state. doc_ids are the table's (purge never renumbers)."""
    from collections import Counter
    qtf = Counter(query_terms)
    if exclude:
        exclude = sorted(set(exclude) - set(qtf))
    terms_in = ", ".join(f"'{t}'" for t in sorted(qtf))
    # ``weights``: term_boosts twin (engine/query.py _apply_term_boosts)
    # — the boost is a pure qtf multiplier, applied here to the same
    # float64 product the engine computes (repr round-trips the value)
    qtf_rows = ", ".join(
        f"('{t}', {float(n) * float((weights or {}).get(t, 1.0))!r}::DOUBLE)"
        for t, n in sorted(qtf.items()))
    n_distinct = len(qtf)
    and_filter = f"HAVING count(*) = {n_distinct}" if mode == "AND" else ""
    if must_terms:
        # bool-query twin (engine/query.py search_bool): every distinct
        # must term present AND >= min_should of the remaining (should)
        # terms; the scored CTE groups per (doc, term), so conditional
        # counts ARE the per-clause distinct-term counts
        m_in = ", ".join(f"'{t}'" for t in sorted(set(must_terms)))
        and_filter = (
            f"HAVING count(CASE WHEN term IN ({m_in}) THEN 1 END) = "
            f"{len(set(must_terms))} AND count(CASE WHEN term NOT IN "
            f"({m_in}) THEN 1 END) >= {min_should}")
    if mode == "OR" and min_match and min_match > 1:
        # minimum_should_match twin: the scored CTE groups per (doc,
        # term), so count(*) IS the distinct-matching-term count
        and_filter = f"HAVING count(*) >= {min_match}"
    where_clause = (f"WHERE tf.doc_id IN (SELECT doc_id FROM documents "
                    f"WHERE {where})" if where else "")
    src = (f"(SELECT * FROM documents WHERE {corpus_where})"
           if corpus_where else "documents")
    tok = tok_sql or _TOK_SQL
    return f"""
WITH dl AS (
  SELECT doc_id, len({tok}) AS dl FROM {src}
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({tok}) AS term FROM {src}
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
q(term, qtf) AS (VALUES {qtf_rows}),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN dfreq USING (term) JOIN q USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  {where_clause}
  GROUP BY tf.doc_id {and_filter}
)
{_collapse_tail(collapse_field, exclude, k, collapse_hits) if collapse_field else f'''SELECT doc_id,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
FROM scored
{_not_in_clause(exclude)}
QUALIFY rk <= {k}
''' if rank_only else f'''SELECT doc_id, score
FROM scored
{_not_in_clause(exclude)}
ORDER BY score DESC, doc_id ASC LIMIT {k}
''' if raw_score else f'''SELECT doc_id, round(b, 6) AS score
FROM (SELECT doc_id,
             score{f" * ({boost_mult})" if boost_mult else ""}{f" + ({boost_add})" if boost_add else ""} AS b
      FROM scored
      {_not_in_clause(exclude)})
ORDER BY b DESC, doc_id ASC LIMIT {k}{f" OFFSET {offset}" if offset else ""}
'''}"""


def _multi_match_sql(query_tokens: list[str], fields: list, tie: float,
                     mt: str = "best_fields", k: int = 10) -> str:
    """DuckDB twin of engine.query.search_multi_match (multi-field BM25
    over IndexConfig.extra_fields): one scored CTE per field — the
    field's OWN tokens/dl/avgdl/df (prefixed-term df == count of docs
    whose FIELD contains the token) under the corpus-global N — then the
    union of matching docs and the engine kernel's exact float64
    combine: v_f = boost_f * sum_f; best_fields = greatest(v..) + tie *
    ((v1 + v2 + ..) - greatest(v..)); most_fields = the plain left-fold
    total. avgdl_f = avg over ALL docs of the field's token count (the
    engine's frozen sum(cf_f)/n_docs identity). Ordered by the
    UNROUNDED combined score (rounded only in the projection)."""
    from collections import Counter
    qtf = Counter(query_tokens)
    terms_in = ", ".join(f"'{t}'" for t in sorted(qtf))
    qtf_rows = ", ".join(f"('{t}', {float(n)!r}::DOUBLE)"
                         for t, n in sorted(qtf.items()))
    ctes, unions, joins, vcols = [], [], [], []
    for i, (name, boost) in enumerate(fields, 1):
        tok = f"regexp_extract_all(lower({name}), '[a-z0-9]+')"
        ctes.append(f"""dl{i} AS (
  SELECT doc_id, len({tok}) AS dl FROM documents),
st{i} AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl{i}),
tf{i} AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
  WHERE term IN ({terms_in}) GROUP BY doc_id, term),
df{i} AS (SELECT term, count(*)::DOUBLE AS df FROM tf{i} GROUP BY term),
s{i} AS (
  SELECT tf.doc_id,
         {float(boost)!r} * sum(q.qtf
             * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl)))
           AS sc
  FROM tf{i} tf JOIN df{i} d USING (term) JOIN q USING (term)
  JOIN dl{i} dl ON tf.doc_id = dl.doc_id CROSS JOIN st{i} s
  GROUP BY tf.doc_id)""")
        unions.append(f"SELECT doc_id FROM s{i}")
        joins.append(f"LEFT JOIN s{i} USING (doc_id)")
        vcols.append(f"coalesce(s{i}.sc, 0.0)")
    if mt == "cross_fields":
        # term-centric: one (doc, term, field) contribution row per
        # field (boost on the contribution), per-token
        # max + tie * (sum - max), summed over tokens — the engine
        # kernel's exact expression
        cons = []
        for i, (name, boost) in enumerate(fields, 1):
            cons.append(f"""
  SELECT tf.doc_id, tf.term,
         {float(boost)!r} * ((q.qtf
             * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl)))
           AS v
  FROM tf{i} tf JOIN df{i} d USING (term) JOIN q USING (term)
  JOIN dl{i} dl ON tf.doc_id = dl.doc_id CROSS JOIN st{i} s""")
        return f"""
WITH q(term, qtf) AS (VALUES {qtf_rows}),
{",".join(ctes)},
contribs AS ({" UNION ALL ".join(cons)}),
pert AS (
  SELECT doc_id, term,
         max(v) + {tie!r} * (sum(v) - max(v)) AS v
  FROM contribs GROUP BY doc_id, term)
SELECT doc_id, round(b, 6) AS score
FROM (SELECT doc_id, sum(v) AS b FROM pert GROUP BY doc_id)
ORDER BY b DESC, doc_id ASC LIMIT {k}"""
    g = f"greatest({', '.join(vcols)})" if len(vcols) > 1 else vcols[0]
    tot = " + ".join(vcols)
    comb = tot if mt == "most_fields" else f"{g} + {tie!r} * (({tot}) - {g})"
    return f"""
WITH q(term, qtf) AS (VALUES {qtf_rows}),
{",".join(ctes)},
u AS ({" UNION ".join(unions)})
SELECT doc_id, round(b, 6) AS score
FROM (SELECT u.doc_id, {comb} AS b FROM u {" ".join(joins)})
ORDER BY b DESC, doc_id ASC LIMIT {k}"""


def _fielded_sql(field_maps: list, k: int = 10) -> str:
    """DuckDB twin of engine.query.search_fielded (the query-string
    'field:term' dispatch): per field its OWN (token, weight) value
    table — effective qtf == the clause weight — scored in that field's
    term space (field df/idf/avgdl, corpus-global N), combined as the
    plain left-fold sum over fields in list order (most_fields shape,
    field boost 1.0). Ordered by the unrounded sum."""
    ctes, unions, joins, vcols = [], [], [], []
    for i, (name, qmap) in enumerate(field_maps, 1):
        tok = f"regexp_extract_all(lower({name}), '[a-z0-9]+')"
        terms_in = ", ".join(f"'{t}'" for t in sorted(qmap))
        q_rows = ", ".join(f"('{t}', {float(w)!r}::DOUBLE)"
                           for t, w in sorted(qmap.items()))
        ctes.append(f"""dl{i} AS (
  SELECT doc_id, len({tok}) AS dl FROM documents),
st{i} AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl{i}),
q{i}(term, qtf) AS (VALUES {q_rows}),
tf{i} AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
  WHERE term IN ({terms_in}) GROUP BY doc_id, term),
df{i} AS (SELECT term, count(*)::DOUBLE AS df FROM tf{i} GROUP BY term),
s{i} AS (
  SELECT tf.doc_id,
         sum(q{i}.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl)))
           AS sc
  FROM tf{i} tf JOIN df{i} d USING (term) JOIN q{i} USING (term)
  JOIN dl{i} dl ON tf.doc_id = dl.doc_id CROSS JOIN st{i} s
  GROUP BY tf.doc_id)""")
        unions.append(f"SELECT doc_id FROM s{i}")
        joins.append(f"LEFT JOIN s{i} USING (doc_id)")
        vcols.append(f"coalesce(s{i}.sc, 0.0)")
    tot = " + ".join(vcols)
    return f"""
WITH {",".join(ctes)},
u AS ({" UNION ".join(unions)})
SELECT doc_id, round(b, 6) AS score
FROM (SELECT u.doc_id, {tot} AS b FROM u {" ".join(joins)})
ORDER BY b DESC, doc_id ASC LIMIT {k}"""


def _dis_max_sql(subqueries: list[list[str]], tie: float,
                 k: int = 10) -> str:
    """DuckDB twin of engine.query.search_dis_max: one scored CTE per
    subquery (the _bm25_sql scored shape), FULL bucket via a UNION of
    matching docs, combine = greatest(v1, ..) + tie * ((v1 + v2 + ..)
    - greatest(v1, ..)) — the engine kernel's exact float64
    expression (unmatched subqueries contribute 0.0; BM25 lucene
    contributions are strictly positive, so 0 never collides)."""
    from collections import Counter
    subs_cte, unions, joins, vcols = [], [], [], []
    for i, terms in enumerate(subqueries, 1):
        qtf = Counter(terms)
        terms_in = ", ".join(f"'{t}'" for t in sorted(qtf))
        qtf_rows = ", ".join(f"('{t}', {float(n)!r}::DOUBLE)"
                             for t, n in sorted(qtf.items()))
        subs_cte.append(f"""q{i}(term, qtf) AS (VALUES {qtf_rows}),
s{i} AS (
  SELECT tf.doc_id,
         sum(q{i}.qtf * ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) AS sc
  FROM tf
  JOIN dfreq USING (term) JOIN q{i} USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  WHERE tf.term IN ({terms_in})
  GROUP BY tf.doc_id
)""")
        unions.append(f"SELECT doc_id FROM s{i}")
        joins.append(f"LEFT JOIN s{i} USING (doc_id)")
        vcols.append(f"coalesce(s{i}.sc, 0.0)")
    g = f"greatest({', '.join(vcols)})" if len(vcols) > 1 else vcols[0]
    tot = " + ".join(vcols)
    return f"""
WITH dl AS (
  SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
{",".join(subs_cte)},
u AS ({" UNION ".join(unions)})
SELECT u.doc_id,
       round({g} + {tie!r} * (({tot}) - {g}), 6) AS score
FROM u {" ".join(joins)}
ORDER BY score DESC, u.doc_id ASC LIMIT {k}"""


def _collapse_tail(field: str, exclude: list[str] | None, k: int,
                   n_hits: int = 1) -> str:
    """Field-collapsing twin (engine/query.py search_collapsed): one row
    per distinct ``field`` value — the group's best doc under the frozen
    (score desc, doc_id asc) order — groups ranked by that
    representative; NULL keys excluded (the frozen contract).

    ``n_hits > 1`` is the top-hits twin (engine/query.py
    search_top_hits): the SAME top-k group selection, but each selected
    group carries its own top-``n_hits`` docs."""
    nc = _not_in_clause(exclude)
    nc = f" AND {nc[6:]}" if nc else ""  # WHERE -> AND (composed below)
    if n_hits > 1:
        return f"""
, j AS (
  SELECT CAST(d.{field} AS VARCHAR) AS group_key, s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.{field}
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
  WHERE d.{field} IS NOT NULL{nc}
),
g AS (
  SELECT group_key FROM j WHERE rn = 1
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT j.group_key, j.doc_id, round(j.score, 6) AS score
FROM j JOIN g USING (group_key) WHERE j.rn <= {n_hits}
ORDER BY j.group_key, j.rn
"""
    return f"""
SELECT group_key, doc_id, round(score, 6) AS score FROM (
  SELECT CAST(d.{field} AS VARCHAR) AS group_key, s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.{field}
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
  WHERE d.{field} IS NOT NULL{nc}
) WHERE rn = 1 ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _match_ranges_sql(term: str, edges: list[int]) -> str:
    """DuckDB twin of engine.matchops.match_ranges: the frozen half-open
    rule (bucket = searchsorted(edges, v, right)) as a CASE chain of
    ``v < e`` tests; NULL lo/hi on the unbounded ends; empty buckets
    emit no row."""
    when_b = " ".join(f"WHEN s < {e} THEN {i}" for i, e in enumerate(edges))
    lo = ("CASE b " + " ".join(f"WHEN {i + 1} THEN {e}"
                               for i, e in enumerate(edges)) + " END")
    hi = ("CASE b " + " ".join(f"WHEN {i} THEN {e}"
                               for i, e in enumerate(edges)) + " END")
    return f"""
WITH m AS (
  SELECT doc_id, ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
  FROM documents
  WHERE len(list_intersect({_TOK_SQL}, ['{term}'])) > 0),
b AS (SELECT CASE {when_b} ELSE {len(edges)} END AS b FROM m)
SELECT ({lo})::BIGINT AS lo, ({hi})::BIGINT AS hi,
       count(*)::BIGINT AS n_docs
FROM b GROUP BY b ORDER BY b
"""


def _rrf_sql(terms_a: list[str], terms_b: list[str], k: int = 10,
             window: int = 50, rc: int = 60) -> str:
    """DuckDB twin of engine.fusion.search_rrf over two BM25 retrievers:
    each retriever's top-``window`` ranking (row_number under the frozen
    (score desc, doc_id asc) order — the ``rank_only`` _bm25_sql tail),
    fused as 1/(rc + rank) contributions summed in retriever order (the
    same two-term float64 addition the engine performs), top-k by
    (fused score desc, doc_id asc)."""
    fused = (f"coalesce(1.0 / ({rc} + a.rk), 0.0) "
             f"+ coalesce(1.0 / ({rc} + b.rk), 0.0)")
    return f"""
WITH a AS ({_bm25_sql(terms_a, "OR", k=window, rank_only=True)}),
b AS ({_bm25_sql(terms_b, "OR", k=window, rank_only=True)})
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       round({fused}, 6) AS score
FROM a FULL JOIN b ON a.doc_id = b.doc_id
ORDER BY ({fused}) DESC, coalesce(a.doc_id, b.doc_id) ASC
LIMIT {k}
"""


def _rescore_sql(terms: list[str], rescore_terms: list[str], k: int = 10,
                 window: int = 50, wq: float = 1.0,
                 wr: float = 1.0) -> str:
    """DuckDB twin of engine.rescore.search_rescore (score_mode total):
    the primary query's top-``window`` (raw unrounded scores, frozen
    order), LEFT JOINed to the secondary query's full raw score set
    (global stats — candidate restriction never changes idf/N/avgdl),
    combined as the engine's literal ``wq * p + wr * coalesce(s, 0)``
    float64 expression, top-k by (combined desc, doc_id asc)."""
    fused = f"{wq!r} * p.score + {wr!r} * coalesce(r.score, 0.0)"
    return f"""
WITH p AS ({_bm25_sql(terms, "OR", k=window, raw_score=True)}),
r AS ({_bm25_sql(rescore_terms, "OR", k=10 ** 9, raw_score=True)})
SELECT p.doc_id, round({fused}, 6) AS score
FROM p LEFT JOIN r ON p.doc_id = r.doc_id
ORDER BY ({fused}) DESC, p.doc_id ASC
LIMIT {k}
"""


def _groups_sql(terms: list[str], field: str, k: int = 10,
                score_mode: str = "sum") -> str:
    """DuckDB twin of engine.matchops.search_groups (ES has_child /
    score_mode): per-doc raw BM25 scores joined to the group column,
    NULL keys excluded, per-(group, shard) partials with the engine's
    two-level left-fold sum contract (``list_reduce`` over doc_id-
    ordered scores within a shard, then over shard-ordered partials —
    a strict left fold, matching np.add.accumulate), top-k groups by
    (score desc, group_key asc)."""
    w = DEFAULT.docs_per_score_shard
    expr = {"sum": "sm", "max": "mx", "avg": "sm / n_docs",
            "count": "n_docs::DOUBLE"}[score_mode]
    return f"""
WITH s AS ({_bm25_sql(terms, "OR", k=10 ** 9, raw_score=True)}),
ps AS (
  SELECT d.{field} AS gk, s.doc_id // {w} AS shard, count(*) AS n,
         list_reduce(list(s.score ORDER BY s.doc_id),
                     (a, b) -> a + b) AS sm,
         max(s.score) AS mx
  FROM s JOIN documents d USING (doc_id)
  WHERE d.{field} IS NOT NULL
  GROUP BY gk, shard),
agg AS (
  SELECT gk, sum(n)::BIGINT AS n_docs, max(mx) AS mx,
         list_reduce(list(sm ORDER BY shard), (a, b) -> a + b) AS sm
  FROM ps GROUP BY gk)
SELECT gk AS group_key, round({expr}, 6) AS score, n_docs
FROM agg ORDER BY ({expr}) DESC, gk ASC LIMIT {k}
"""


def _not_in_clause(exclude: list[str] | None) -> str:
    if not exclude:
        return ""
    negs = ", ".join(f"'{t}'" for t in sorted(exclude))
    return (f"WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM toks"
            f" WHERE term IN ({negs}))")


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def doclen(spark, sf):
        return _docs(spark, sf).select(
            "doc_id",
            F.size(tokenize_expr(F.col("text"))).cast("long").alias("dl"))

    def term_stats(spark, sf):
        toks = _docs(spark, sf).select(
            "doc_id", F.explode(tokenize_expr(F.col("text"))).alias("term"))
        return (toks.groupBy("term")
                .agg(F.countDistinct("doc_id").alias("df"),
                     F.count("*").alias("cf")))

    def corpus_stats(spark, sf):
        dl = doclen(spark, sf)
        return dl.agg(F.count("*").alias("n_docs"),
                      F.round(F.avg("dl"), 6).alias("avgdl"),
                      F.sum("dl").alias("n_tokens"))

    def lexicon_idf(spark, sf):
        docs = _docs(spark, sf)
        n = docs.count()
        toks = docs.select("doc_id",
                           F.explode(tokenize_expr(F.col("text"))).alias("term"))
        df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        idf = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5))
        return df_.select("term", "df", F.round(idf, 6).alias("idf"))

    def tf_topk(spark, sf):
        toks = _docs(spark, sf).select(
            "doc_id", F.explode(tokenize_expr(F.col("text"))).alias("term"))
        tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        return tf.orderBy(F.desc("tf"), F.asc("doc_id"), F.asc("term")).limit(20)

    def intersect_and(spark, sf):
        toks = _docs(spark, sf).select(
            "doc_id", F.explode(tokenize_expr(F.col("text"))).alias("term"))
        a = toks.filter(F.col("term") == "hash").select("doc_id").distinct()
        b = toks.filter(F.col("term") == "vector").select("doc_id").distinct()
        c = toks.filter(F.col("term") == "window").select("doc_id").distinct()
        return a.join(b, "doc_id", "left_semi").join(c, "doc_id", "left_semi")

    def bm25_or(spark, sf):
        return _bm25_engine(spark, sf, "spark join fast", "OR")

    def bm25_and(spark, sf):
        return _bm25_engine(spark, sf, "hash join merge", "AND")

    def bm25_qtf(spark, sf):
        return _bm25_engine(spark, sf, "spark spark vector", "OR")

    def bm25_not(spark, sf):
        # boolean NOT: rank for "spark join", excluding docs with "hash"
        return _bm25_engine(spark, sf, "spark join", "OR", exclude="hash")

    def bm25_msm(spark, sf):
        # minimum_should_match: >= 2 of the 3 distinct terms must match
        # (the ES bool-query floor; survivor scores are plain OR scores)
        return _bm25_engine(spark, sf, "spark join fast", "OR", min_match=2)

    def term_vectors(spark, sf):
        # per-doc term vector (engine/query.py term_vectors — the ES
        # _termvectors endpoint): (term, tf, df, cf, idf) for doc 7 from
        # ONE pruned corpus read + one term-pushed lexicon lookup; the
        # twin recomputes all five values from the raw corpus text, so
        # the row cross-checks the stored lexicon against first
        # principles
        from engine import query as Q
        idx = _packed_index(spark, sf)
        tv = Q.term_vectors(idx, 7)
        return tv.select("term", "tf", "df", "cf",
                         F.round("idf", 6).alias("idf"))

    def bm25_multi(spark, sf):
        # federated multi-index search (engine/multi.py): two member
        # indexes over a stable-order split of the corpus must rank
        # BIT-IDENTICALLY to one index over the union (global df/N/avgdl
        # from driver-side metadata) — the oracle is the plain
        # single-corpus BM25 twin; member ids map back by offset
        from engine.multi import search_multi
        a, b = _multi_indexes(spark, sf)
        top = search_multi([a, b], "spark join fast", k=10)
        gid = (F.col("doc_id")
               + F.when(F.col("index_id") == 1,
                        F.lit(a.n_docs)).otherwise(F.lit(0)))
        return top.select(gid.alias("doc_id"),
                          F.round("score", 6).alias("score"))

    def bm25_multi_boosted(spark, sf):
        # ES indices_boost: member 1 (the fresh half) weighted 3x —
        # scores multiply AFTER the frozen summation, per-member order
        # (and WAND routing) untouched, only the interleave shifts
        from engine.multi import search_multi
        a, b = _multi_indexes(spark, sf)
        top = search_multi([a, b], "spark join fast", k=10,
                           index_boosts=[1.0, 3.0])
        gid = (F.col("doc_id")
               + F.when(F.col("index_id") == 1,
                        F.lit(a.n_docs)).otherwise(F.lit(0)))
        return top.select(gid.alias("doc_id"),
                          F.round("score", 6).alias("score"))

    def bm25_bool(spark, sf):
        # ES bool query (engine/query.py search_bool): must="spark"
        # required, should="join fast" optional-but-scoring — the doc
        # set is exactly the "spark" match set, ranked with the should
        # contributions added (ES default min_should_match=0 with must)
        return _bm25_bool_engine(spark, sf, "spark", "join fast")

    def bm25_bool_msm(spark, sf):
        # bool query with a BINDING should floor: must="spark" AND at
        # least 2 of {join, fast, vector} present; survivor scores are
        # the plain OR sum over all four terms
        return _bm25_bool_engine(spark, sf, "spark", "join fast vector",
                                 msm=2)

    def bm25_term_boosts(spark, sf):
        # per-term query boosting (term^w): weights multiply each term's
        # qtf factor (engine/query.py _apply_term_boosts); the twin
        # applies the same float64 product to its qtf VALUES rows
        return _bm25_engine(spark, sf, "spark join fast", "OR",
                            term_boosts={"join": 2.5, "fast": 0.5})

    def bm25_boosting(spark, sf):
        # ES boosting query (engine/query.py search_boosting): rank by
        # the positive query's BM25 score, docs containing the negative
        # term DEMOTED by x0.3 (not excluded) — the negative term's
        # doc_ids ride the same pruned scan, the kernel multiplies
        # after the frozen summation. Twin: score * CASE WHEN doc in
        # negset THEN 0.3 ELSE 1.0 END over the same scored CTE
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_boosting(idx, "spark join fast", "hash", 0.3,
                                k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_dis_max(spark, sf):
        # ES dis_max (engine/query.py search_dis_max): two OR
        # subqueries ride ONE pruned scan, each decoded payload
        # scatter-adds into every subquery's accumulator, per-doc
        # combine best + tie*(total - best) — the twin writes the
        # identical float64 expression over FULL-JOINed scored CTEs
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_dis_max(idx, ["spark join", "fast vector"],
                               k=10, tie_breaker=0.3)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def percolate_alerts(spark, sf):
        # ES percolator (engine/percolate.py): saved alert queries are
        # themselves the indexed corpus (qid/required docvalues); the
        # incoming doc's distinct tokens run ONE pruned-scan job over
        # the query index and each shard emits the qids whose stored
        # floor is reached — work scales with the DOC'S tokens, never
        # with the number of registered queries. Twin: set-intersection
        # arithmetic over VALUES rows of the same saved queries
        import tempfile
        from engine.percolate import percolate, register_queries
        d = tempfile.mkdtemp(prefix="entry_perc_")
        qidx = register_queries(spark, [
            {"id": "alert-and", "query": "spark join", "mode": "AND"},
            {"id": "alert-or", "query": "vector hash", "mode": "OR"},
            {"id": "alert-msm", "query": "spark fast table",
             "min_match": 2},
        ], f"{d}/qidx")
        text = _docs(spark, sf).filter("doc_id = 7") \
            .select("text").collect()[0]["text"]
        return percolate(qidx, text + " spark join")

    def bm25_reindexed(spark, sf):
        # reindex (engine/build.py reindex — the ES _reindex /
        # mapping-change op): the packed index rebuilt from its own
        # STORED corpus under a hooked analyzer (stopword 'fast' +
        # plural stemmer), no original source needed; BM25 over the
        # reindexed vocabulary, twin tokenizes with the identical
        # DuckDB hook chain (engine.analyzer.duckdb_tokenize)
        import tempfile
        from engine import query as Q
        from engine.build import reindex
        from engine.config import AnalyzerConfig, IndexConfig
        key = (spark.sparkContext.applicationId, sf, "reidx")
        if key not in _PACKED_IDX_CACHE:
            d = tempfile.mkdtemp(prefix="entry_reidx_")
            _PACKED_IDX_CACHE[key] = reindex(
                _packed_index(spark, sf), f"{d}/re",
                IndexConfig(analyzer=AnalyzerConfig(
                    stopwords=("fast",), stem="s")))
        idx = _PACKED_IDX_CACHE[key]
        top = Q.search(idx, "spark fast joins", k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_snapshot(spark, sf):
        # snapshot/restore (engine/build.py snapshot): point-in-time
        # copy of every durable component, verified on load; the
        # restored index must rank EXACTLY like the source — the twin
        # is the plain BM25 oracle, so any component the copy lost
        # (segments, lexicon, stats, manifest) hash-mismatches
        import tempfile
        from engine import query as Q
        from engine.build import snapshot
        key = (spark.sparkContext.applicationId, sf, "snap")
        if key not in _PACKED_IDX_CACHE:
            d = tempfile.mkdtemp(prefix="entry_snap_")
            _PACKED_IDX_CACHE[key] = snapshot(
                _packed_index(spark, sf), f"{d}/snap")
        top = Q.search(_PACKED_IDX_CACHE[key], "table hash vector", k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_collapse(spark, sf):
        # field collapsing (ES collapse): top groups by their best doc —
        # one row per distinct lang, ranked by the group representative
        # (engine/query.py search_collapsed; NULL keys excluded)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_collapsed(idx, "spark join fast", "lang", k=10)
        return top.select("group_key", "doc_id",
                          F.round("score", 6).alias("score"))

    def bm25_top_hits(spark, sf):
        # top-hits aggregation (ES top_hits under a terms bucket): top-3
        # source groups by their best doc, each with its own top-3 docs
        # under the frozen order (engine/query.py search_top_hits; the
        # per-shard kernel emits bounded per-(group, shard) partials)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_top_hits(idx, "spark join fast", "source", k=3,
                                hits_per_group=3)
        return top.select("group_key", "doc_id",
                          F.round("score", 6).alias("score"))

    def bm25_rrf(spark, sf):
        # reciprocal-rank fusion (the ES 8.x rrf retriever,
        # engine/fusion.py): two BM25 retrievers' top-50 rankings fused
        # as 1/(60 + rank) sums in retriever order — hybrid retrieval
        # without score calibration; each retriever is its own unchanged
        # one-job plan, the fusion is metadata-sized driver work
        from engine.fusion import search_rrf
        idx = _packed_index(spark, sf)
        top = search_rrf(idx, [{"query": "spark join fast"},
                               {"query": "vector hash"}],
                         k=10, window=50)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_rescore(spark, sf):
        # ES rescore window (engine/rescore.py): primary top-50 re-ranked
        # by adding the secondary query's BM25 (weighted 1x/2x), secondary
        # scored ONLY over the window ids via a literal allowed-ids
        # cogroup (zero corpus scan), combine driver-side over <= window
        # rows — jobless local-relation result
        from engine.rescore import search_rescore
        idx = _packed_index(spark, sf)
        top = search_rescore(idx, "spark join fast", "join fast",
                             k=10, window=50,
                             query_weight=1.0, rescore_weight=2.0)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_vector_rescore(spark, sf):
        # hybrid text+vector rescore (engine/rescore.py
        # search_rescore_vector): BM25 top-50 re-ranked by wq*bm25 +
        # wv*cosine(embedding[0], embedding[doc_id]) — the window ids
        # pushed into the embeddings parquet scan, frozen ann_cosine
        # formula, unknown-embedding docs contribute 0.0
        from engine.rescore import search_rescore_vector
        idx = _packed_index(spark, sf)
        emb = _emb(spark, sf)
        qv = emb.filter(F.col("vec_id") == 0) \
            .select("embedding").collect()[0][0]
        top = search_rescore_vector(idx, "spark join fast", emb, qv,
                                    k=10, window=50, query_weight=1.0,
                                    vector_weight=2.0)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_groups(spark, sf):
        # group-level ranked retrieval (engine/matchops.py search_groups
        # — the ES has_child / score_mode pattern; over transcripts,
        # field=conv_id is "rank CONVERSATIONS by their matching turns"):
        # per-doc scores from the unchanged pruned-scan kernel at
        # k=width, in-task per-(group, shard) partials over the cached
        # docvalue slice, two-level left-fold sum (doc order within
        # shard, shard order across) — a defined, reproducible float64
        # order mirrored by the DuckDB list_reduce twin
        from engine.matchops import search_groups
        idx = _packed_index(spark, sf)
        top = search_groups(idx, "spark join fast", "source", k=10,
                            score_mode="sum")
        return top.select("group_key",
                          F.round("score", 6).alias("score"), "n_docs")

    def bm25_page2(spark, sf):
        # cursor pagination: page 1's last (score, doc_id) verbatim ->
        # search_after returns ranks 11..20 (oracle: LIMIT 10 OFFSET 10).
        # The cursor compare is raw-float EXACT inside the engine (frozen
        # summation order); the oracle twin recomputes the same ranking.
        from engine import query as Q
        idx = _packed_index(spark, sf)
        p1 = Q.search(idx, "spark join fast", k=10).collect()
        last = p1[-1]
        top = Q.search_after(idx, "spark join fast", k=10,
                             after=(last["score"], last["doc_id"]))
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_prefix(spark, sf):
        # wildcard s* -> {scan, slow, small, sort, spark, stream} via the
        # pushed-down lexicon range scan; scores as OR, qtf=1 per term
        return _bm25_prefix_engine(spark, sf, "s*")

    def bm25_prefix_capped(spark, sf):
        # the expansion cap BINDING: only the 3 highest-df s-terms
        # survive (df desc, term asc — the frozen deterministic cap rule
        # the DuckDB twin replicates with ORDER BY ... LIMIT 3)
        return _bm25_prefix_engine(spark, sf, "s*", max_expansions=3)

    def bm25_fuzzy(spark, sf):
        # edit-distance query sprk~1 -> {spark} via the SymSpell
        # deletion-neighborhood lookup (engine/fuzzy.py); the twin scans
        # the whole vocab with DuckDB's levenshtein — semantics vs
        # mechanism, so a candidate-completeness bug fails the gate
        return _bm25_fuzzy_engine(spark, sf, "sprk", max_edits=1)

    def bm25_fuzzy2(spark, sf):
        # radius 2: sprk~2 -> {spark(d1), sort(d2)} — a true multi-term
        # OR expansion, each term keeping its own corpus-global idf
        return _bm25_fuzzy_engine(spark, sf, "sprk", max_edits=2)

    def bm25_fuzzy_capped(spark, sf):
        # the cap BINDING at 1 under the frozen (dist ASC, df DESC,
        # term ASC) rule: joi~2 matches {join(d1), row(d2)} but only the
        # closest survives
        return _bm25_fuzzy_engine(spark, sf, "joi", max_edits=2,
                                  max_expansions=1)

    def suggest_missing(spark, sf):
        # did-you-mean (ES term suggester, suggest_mode=always): 'sprk'
        # is out-of-vocab (corrections ranked dist ASC, df DESC, term
        # ASC from the SymSpell neighborhood), 'join' is in-vocab and
        # yields itself at pos 1 dist 0 ahead of its radius-1 neighbors
        # — and 'sow' has a multi-candidate radius-2 neighborhood
        # ({row, slow} at d1, {sort} at d2), exercising the dist-ASC /
        # df-DESC order across distances. The twin scans the whole
        # vocab with DuckDB's levenshtein, gating candidate
        # COMPLETENESS, not just the ranking rule
        from engine.fuzzy import suggest_terms
        idx = _packed_index(spark, sf)
        return suggest_terms(idx, "sprk join sow", max_edits=2, n=3)

    def suggest_phrase_q(spark, sf):
        # whole-query phrase suggester: two misspelled tokens ('sprak'
        # is 2 plain-Levenshtein edits from 'spark' — no transposition
        # shortcut), per-slot capped candidates, frozen unigram score;
        # the identity phrase competes and loses to the correction
        from engine.fuzzy import suggest_phrase
        idx = _packed_index(spark, sf)
        df = suggest_phrase(idx, "sprak joni", max_edits=2, n=5,
                            per_term=3)
        return df.select("phrase", "n_edits",
                         F.round("score", 6).alias("score"))

    def bm25_regexp(spark, sf):
        # regexp term query s(park|can) -> {spark, scan}: the literal
        # prefix 's' is pushed into the term-sorted lexicon scan, the
        # alternation evaluated on the surviving slice; scores as OR
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_regexp(idx, "s(park|can)", k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_regexp_capped(spark, sf):
        # class-start pattern (no literal prefix -> whole-lexicon scan,
        # the documented ES regexp caveat) with the cap BINDING at 4
        # under the frozen df DESC, term ASC rule
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_regexp(idx, "[bs][a-z]+", k=10, max_expansions=4)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def match_pct_ts(spark, sf):
        # exact PERCENTILE_DISC over the match set's ts docvalues — the
        # rule (min v with cum >= ceil(p*n)) is written out identically
        # in the twin, never a dialect-specific quantile built-in
        from engine.matchops import match_percentiles
        idx = _packed_index(spark, sf)
        return match_percentiles(idx, "spark join", "ts",
                                 ps=(0.5, 0.9, 0.99))

    def bm25_query_string(spark, sf):
        # the r5 query-string mini-language routed end-to-end:
        # '+spark join fast^2 -slow' parses into one BOOL batch entry
        # (must + weighted shoulds + exclude) — scores bit-equal to the
        # structured bool+term_boosts path (engine/querystring.py)
        from engine.querystring import search_query_string
        idx = _packed_index(spark, sf)
        top = search_query_string(idx, "+spark join fast^2 -slow", k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_multi_match(spark, sf):
        # ES multi_match best_fields over the multi-field index (r5):
        # text + lang(^2) + source(^1.5) term spaces, tie_breaker 0.3 —
        # per-field df/idf/avgdl, the dis_max-shaped combine, one scan
        from engine import query as Q
        idx = _mf_index(spark, sf)
        top = Q.search_multi_match(
            idx, "spark en src8",
            fields={"text": 1.0, "lang": 2.0, "source": 1.5},
            k=10, tie_breaker=0.3)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_multi_match_most(spark, sf):
        # most_fields: the plain cross-field sum (tie_breaker n/a)
        from engine import query as Q
        idx = _mf_index(spark, sf)
        top = Q.search_multi_match(
            idx, "join src5", fields={"text": 1.0, "source": 1.5},
            k=10, match_type="most_fields")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_multi_match_cross(spark, sf):
        # cross_fields (term-centric): per token, best-field
        # contribution + tie * rest, summed over tokens ascending
        from engine import query as Q
        idx = _mf_index(spark, sf)
        top = Q.search_multi_match(
            idx, "spark en src8",
            fields={"text": 1.0, "lang": 2.0, "source": 1.5},
            k=10, match_type="cross_fields", tie_breaker=0.2)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_qs_fielded(spark, sf):
        # Lucene 'field:term' syntax end-to-end: the query string
        # routes through search_fielded (per-clause field scoping,
        # most_fields-shaped combine, clause weight == effective qtf)
        from engine.querystring import search_query_string
        idx = _mf_index(spark, sf)
        top = search_query_string(idx, "spark lang:en^2 source:src8",
                                  k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def match_pct_binned(spark, sf):
        # bounded-state percentiles (VERDICT r4 #2): FORCED-binned with
        # a coarse n_bins so the frozen integer rule (width =
        # max(1, ceil(span/n_bins)), bin = (v-vmin)//width, value =
        # vmin + width * DISC-bin lower edge) is BINDING at gate scale;
        # the twin reproduces width/bin/walk in pure int64 arithmetic
        from engine.matchops import match_percentiles
        idx = _packed_index(spark, sf)
        return match_percentiles(idx, "spark join", "ts",
                                 ps=(0.5, 0.9, 0.99), method="binned",
                                 n_bins=16)

    def match_mad_binned(spark, sf):
        # bounded-state MAD: both medians DISC-walk the same coarse bin
        # histogram with lower-edge representatives — driver state
        # <= n_bins rows regardless of field cardinality
        from engine.matchops import match_mad
        idx = _packed_index(spark, sf)
        return match_mad(idx, "spark join", "ts", method="binned",
                         n_bins=16)

    def match_all_stats(spark, sf):
        # ES match_all ("*") over the agg surface: ts stats of EVERY
        # live doc passing a dv_filter — no positive postings scan runs
        # at all (engine/matchops.py _match_all_kernel)
        from engine.matchops import match_stats
        idx = _packed_index(spark, sf)
        df = match_stats(idx, "*", "ts", dv_filter="lang = 'en'")
        return df.select("n_docs", "n_with_value",
                         F.round("min_val", 6).alias("min_val"),
                         F.round("max_val", 6).alias("max_val"),
                         F.round("sum_val", 6).alias("sum_val"),
                         F.round("avg_val", 6).alias("avg_val"))

    def facet_stats_by_avg(spark, sf):
        # terms agg ordered by a stats SUB-AGG metric (ES _order_ on
        # stats.avg, ascending): per-lang ts stats of the match set
        # ranked by avg_val asc, facet_value tiebreak
        from engine.matchops import facet_stats
        idx = _packed_index(spark, sf)
        df = facet_stats(idx, "spark", "lang", "ts", order_by="avg",
                         ascending=True)
        return df.select("facet_value", "n_docs", "n_with_value",
                         F.round("min_val", 6).alias("min_val"),
                         F.round("max_val", 6).alias("max_val"),
                         F.round("sum_val", 6).alias("sum_val"),
                         F.round("avg_val", 6).alias("avg_val"))

    def rare_terms_src(spark, sf):
        # exact rare_terms (ES approximates with a CuckooFilter): the
        # source values appearing at most twice among docs matching
        # BOTH terms — globally-merged counts, filtered post-merge
        from engine.matchops import rare_terms
        idx = _packed_index(spark, sf)
        return rare_terms(idx, "spark join", "source", max_doc_count=2,
                          n=10, mode="AND")

    def match_mad_ts(spark, sf):
        # exact median-absolute-deviation (ES approximates with
        # t-digest): both medians use the same frozen DISC rule as
        # match_pct_ts, the deviation histogram derived driver-side
        # from the one collected value histogram — one job total
        from engine.matchops import match_mad
        idx = _packed_index(spark, sf)
        return match_mad(idx, "spark join", "ts", mode="OR")

    def index_stats_q(spark, sf):
        # the _stats endpoint: n_docs/n_deleted from the manifest,
        # n_terms/n_postings (Σdf) / n_tokens (Σcf) from ONE lexicon
        # aggregation — the twin recomputes all five first-principles
        from engine.build import index_stats
        idx = _packed_index(spark, sf)
        return index_stats(idx)

    def bm25_synonyms(spark, sf):
        # query-time synonym expansion: 'fast slow' with fast->{slow}
        # merges to qtf {fast:1, slow:2} — identical to typing
        # 'fast slow slow' (the bm25_qtf rule); the twin repeats the term
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_synonyms(idx, "fast slow", {"fast": ["slow"]},
                                k=10)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def export_matches_q(spark, sf):
        # match-set EXPORT (not top-k): every doc matching 'hash AND
        # vector' under doc_filter lang='en', written distributed to
        # parquet and read back — the gate hashes the full exported set
        import tempfile
        from engine.matchops import export_matches
        idx = _packed_index(spark, sf)
        d = tempfile.mkdtemp(prefix="entry_export_")
        out = export_matches(idx, "hash vector", f"{d}/out", mode="AND",
                             doc_filter="lang = 'en'",
                             columns=("conv_id", "lang"))
        return out.select("doc_id", "conv_id", "lang")

    def significant_terms_q(spark, sf):
        # ES significant_terms (JLH "uncommonly common") over the BM25
        # top-50 foreground of 'spark join'; the twin reproduces the
        # same frozen foreground with its BM25 CTE and the identical
        # IEEE JLH expression over exact integers
        from engine.matchops import significant_terms
        idx = _packed_index(spark, sf)
        out = significant_terms(idx, "spark join", n=8, sample=50)
        return out.select("term", "fg_count", "bg_count",
                          F.round("score", 6).alias("score"))

    def term_stats_hooked(spark, sf):
        # C3 analyzer hooks under the hard gate: stopword removal + the
        # light plural stemmer, identical across the Spark expression
        # form and the DuckDB twin (engine.analyzer.duckdb_tokenize)
        from engine.config import AnalyzerConfig
        acfg = AnalyzerConfig(stopwords=("the", "a", "of", "to"), stem="s")
        toks = _docs(spark, sf).select(
            "doc_id",
            F.explode(tokenize_expr(F.col("text"), acfg)).alias("term"))
        return (toks.groupBy("term")
                .agg(F.countDistinct("doc_id").alias("df"),
                     F.count("*").alias("cf")))

    def fingerprint(spark, sf):
        # document fingerprint: md5 over the NORMALIZED token stream
        return _docs(spark, sf).select(
            "doc_id",
            F.md5(F.array_join(tokenize_expr(F.col("text")), " ")).alias("fp"))

    def dedup_exact(spark, sf):
        # exact dedup on normalized fingerprint: representative + group size
        fp = fingerprint(spark, sf)
        return (fp.groupBy("fp").agg(F.min("doc_id").alias("rep_doc_id"),
                                     F.count("*").alias("n_dups")))

    def quality_score(spark, sf):
        d = _docs(spark, sf)
        toks = tokenize_expr(F.col("text"))
        n_tok = F.size(toks)
        stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
        ratio = stop.cast("double") / F.greatest(n_tok, F.lit(1))
        return d.select("doc_id", n_tok.cast("long").alias("n_tokens"),
                        F.round(ratio, 6).alias("stop_ratio"),
                        F.round(F.lit(1.0) - ratio, 6).alias("quality"))

    def token_counts_q(spark, sf):
        from engine.textops import token_counts
        return token_counts(_docs(spark, sf))

    def quality_features_q(spark, sf):
        from engine.textops import quality_features
        return quality_features(_docs(spark, sf))

    def lang_id_q(spark, sf):
        from engine.textops import lang_id
        return lang_id(_docs(spark, sf))

    def fingerprint_rolling_q(spark, sf):
        # portable md5-polynomial rolling hash (DuckDB twin below); the
        # xxhash64 variant is pytest-checked vs a pure-Python reimpl
        from engine.textops import fingerprint_rolling_md5
        return fingerprint_rolling_md5(_docs(spark, sf))

    def minhash_sigs(spark, sf):
        from engine.dedup import minhash_signatures
        return minhash_signatures(_docs(spark, sf), n_hashes=4)

    def lsh_pairs(spark, sf):
        from engine.dedup import lsh_candidate_pairs
        return lsh_candidate_pairs(_docs(spark, sf), n_hashes=4, bands=2)

    def ngram_jaccard(spark, sf):
        from engine.dedup import ngram_jaccard_pairs
        return ngram_jaccard_pairs(_docs(spark, sf), threshold=0.5)

    def simhash_q(spark, sf):
        from engine.dedup import simhash
        return simhash(_docs(spark, sf), bits=16)

    def ann_lsh(spark, sf):
        # runs over the PHYSICAL bucket-partitioned layout (partition
        # pruning at the scan — the 100 TB path; plan asserted in
        # tests/test_plans.py)
        from engine.similarity import ann_lsh_topk_indexed
        e = _emb(spark, sf)
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
        path = _ann_layout(spark, sf, "lsh")
        return ann_lsh_topk_indexed(spark, path, qv, k=10, n_planes=8,
                                    radius=1, exclude_id=0)

    def ann_ivf(spark, sf):
        # runs over the PHYSICAL cell-partitioned IVF layout
        from engine.similarity import ivf_topk_indexed
        e = _emb(spark, sf)
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
        path = _ann_layout(spark, sf, "ivf")
        return ivf_topk_indexed(spark, path, qv, _ivf_codebook(), k=10,
                                nprobe=2, exclude_id=0)

    def near_dup_embeddings(spark, sf):
        # n_planes=None -> data-scaled plane count (the production path);
        # the oracle twin resolves the same count from the row count
        from engine.dedup import embedding_near_dups
        return embedding_near_dups(_emb(spark, sf), threshold=0.3,
                                   n_planes=None)

    def knn_join(spark, sf):
        from engine.similarity import knn_join_lsh
        return knn_join_lsh(_emb(spark, sf), k=3, n_planes=None)

    def events_hourly(spark, sf):
        # date functions: hourly rollup over the events table (count +
        # min/max are order-independent -> float-safe oracle compare)
        e = spark.read.parquet(f"{sf}/events.parquet")
        return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                          "event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.min("value"), 6).alias("min_value"),
                     F.round(F.max("value"), 6).alias("max_value")))

    def streaming_windowed(spark, sf):
        # J2 under the HARD gate: the watermarked windowed agg executed
        # as a REAL Structured Streaming query — readStream file source,
        # 30-min watermark state, availableNow trigger, memory sink
        # (complete mode == the batch equivalence the twin checks).
        # The streaming machinery (state store, watermark advance) runs
        # for real; the result is deterministic because availableNow
        # processes the full input.
        import shutil
        import tempfile

        from engine.streaming import windowed_turn_counts
        src = tempfile.mkdtemp(prefix="entry_stream_src_")
        shutil.copy(f"{sf}/events.parquet", src + "/events.parquet")
        schema = spark.read.parquet(f"{sf}/events.parquet").schema
        # events store TIMESTAMP_NTZ; watermarks need TIMESTAMP —
        # round-trip through the UTC session tz (identity on wall-clock)
        stream = (spark.readStream.schema(schema).parquet(src)
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          F.col("event_type").alias("role")))
        agg = windowed_turn_counts(stream, window="1 hour",
                                   watermark="30 minutes")
        name = "streaming_windowed_gate"
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="entry_stream_ckpt_"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return (spark.table(name)
                .select(F.col("window_start").cast("timestamp_ntz")
                        .alias("window_start"),
                        F.col("role").alias("event_type"),
                        F.col("n_turns").alias("n")))

    def user_sessions(spark, sf):
        # session-window aggregation (30-min inactivity gap) per user
        e = spark.read.parquet(f"{sf}/events.parquet")
        return (e.groupBy("user_id",
                          F.session_window("ts", "30 minutes").alias("w"))
                .agg(F.count("*").alias("n_events"))
                .select("user_id",
                        F.col("w.start").alias("session_start"),
                        "n_events"))

    def media_features(spark, sf):
        # multimodal plumbing under the HARD gate: payloads are the
        # documents' UTF-8 bytes, the fake decoder is md5-derived
        # (byte/256 -> exact float32), so DuckDB reproduces feat_sum
        # bit-identically (mapInPandas batching/schema is the real path)
        from engine.multimodal import extract_features, media_from_documents
        feats = extract_features(media_from_documents(_docs(spark, sf)))
        return feats.select("media_id", "kind", "n_bytes",
                            F.round(F.aggregate("features", F.lit(0.0),
                                                lambda a, x: a + x), 4)
                            .alias("feat_sum"))

    def phrase_search(spark, sf):
        # exact phrase query over the positions-enabled packed index
        # (poss stream; engine/query.py search_phrase) — integer match
        # counts, so the oracle compare is exact
        from engine import query as Q
        idx = _packed_index(spark, sf, positions=True)
        return Q.search_phrase(idx, "table hash", k=10)

    def phrase_prefix(spark, sf):
        # match_phrase_prefix (ES search-as-you-type; engine/query.py
        # search_phrase_prefix): consecutive phrase whose last slot
        # matches ANY vocabulary term starting with 'ha' (frozen
        # df-desc/term-asc expansion over the term-sorted lexicon);
        # integer anchor counts -> exact compare
        from engine import query as Q
        idx = _packed_index(spark, sf, positions=True)
        return Q.search_phrase_prefix(idx, "table ha", k=10)

    def span_first(spark, sf):
        # Lucene/ES span_first: docs where 'spark' occurs within the
        # first 5 analyzer positions, n_within counting those
        # occurrences (engine/query.py search_span_first — the
        # positions codec stores each posting's first position
        # absolute, so the bound test is decoded-int32 work only).
        # Twin: one DuckDB list slice + list_filter count
        from engine import query as Q
        idx = _packed_index(spark, sf, positions=True)
        return Q.search_span_first(idx, "spark", 5, k=10)

    def phrase_sloppy(spark, sf):
        # sloppy phrase (proximity): terms in order with total span
        # <= (len-1) + slop positions; n_phrase counts matching anchors
        # of the first term (engine/query.py _phrase_hits slop path —
        # greedy leftmost == existence, one searchsorted per term)
        from engine import query as Q
        idx = _packed_index(spark, sf, positions=True)
        return Q.search_phrase(idx, "table hash", k=10, slop=3)

    def bm25_filtered(spark, sf):
        # query-time doc_filter over a stored-corpus metadata column
        # (lang rides through the adapter as an extra column): candidate
        # restriction with GLOBAL BM25 stats — the filtered cogroup path
        # (engine/query.py search doc_filter)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR",
                       doc_filter="lang = 'en'")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_dv_filtered(spark, sf):
        # dv_filter: the same frozen candidate-restriction semantics as
        # doc_filter, served from the index's OWN per-shard docvalue
        # store (engine/docvalues.py) — zero corpus scan, zero extra
        # shuffle; the predicate runs in-task via embedded DuckDB over
        # the cached Arrow slice
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR",
                       dv_filter="lang = 'en' AND source IN "
                                 "('src1','src2','src3')")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_recency_boost(spark, sf):
        # recency boost: score = (frozen BM25 sum) * 0.5 ** (age / hl)
        # over the stored ts docvalue — multiplier applied AFTER the
        # frozen summation, inside the scorer task (engine/query.py
        # _score_shard_batch boosts)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR",
                       boost={"field": "ts",
                              "half_life_days": _BOOST_HL_DAYS,
                              "now": _BOOST_NOW_ISO})
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_decay_gauss(spark, sf):
        # ES function_score gauss decay (engine/docvalues.py
        # decay_multiplier): two-sided |ts - origin| with an offset
        # radius, multiplier applied AFTER the frozen BM25 summation
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR",
                       boost={"field": "ts", "decay": "gauss",
                              "origin": _DECAY_ORIGIN_ISO,
                              "scale_days": _DECAY_SCALE_DAYS,
                              "offset_days": _DECAY_OFFSET_DAYS})
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_decay_linear(spark, sf):
        # linear decay with a scale small enough that far docs clamp to
        # a 0.0 multiplier (the ES linear contract) — exercises exact
        # zero-score ties resolved by the doc_id tiebreak
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR",
                       boost={"field": "ts", "decay": "linear",
                              "origin": _DECAY_ORIGIN_ISO,
                              "scale_days": 30.0,
                              "offset_days": _DECAY_OFFSET_DAYS})
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_decay_sum(spark, sf):
        # ES function_score boost_mode=sum with a function weight:
        # score + w * gauss(ts) — additive combine AFTER the frozen
        # summation (engine/query.py _score_shard_batch)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR",
                       boost={"field": "ts", "decay": "gauss",
                              "origin": _DECAY_ORIGIN_ISO,
                              "scale_days": _DECAY_SCALE_DAYS,
                              "offset_days": _DECAY_OFFSET_DAYS,
                              "boost_mode": "sum", "weight": 0.5})
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def search_recent(spark, sf):
        # sort-by-field (Lucene pattern): docs matching ALL query terms
        # ranked by (ts desc, doc_id asc) from the docvalue store — BM25
        # never runs; postings resolve membership, the shard's columnar
        # slice supplies the sort keys (engine/query.py search_sorted)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search_sorted(idx, "spark join", "ts", k=10, mode="AND")
        return top.select("doc_id",
                          F.round("sort_val", 6).alias("sort_val"))

    def search_recent_page2(spark, sf):
        # field-sorted cursor pagination (ES search_after on a non-score
        # sort): page 1's last (sort_val, doc_id) verbatim -> ranks
        # 11..20 of the (ts desc, doc_id asc) order; the after-filter
        # is pushed into the shard kernel (oracle: OFFSET 10)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        p1 = Q.search_sorted(idx, "spark join", "ts", k=10,
                             mode="AND").collect()
        last = p1[-1]
        top = Q.search_sorted(idx, "spark join", "ts", k=10, mode="AND",
                              after=(last["sort_val"], last["doc_id"]))
        return top.select("doc_id",
                          F.round("sort_val", 6).alias("sort_val"))

    def search_snippets(spark, sf):
        # E8 snippet materialization: top-10 BM25 hits with a +-3-token
        # context window around the first query-term occurrence, computed
        # as a Catalyst expression over <= k tokenized rows
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR")
        snip = Q.materialize_snippets(idx, top, "spark join fast", window=3)
        return snip.select("doc_id", F.round("score", 6).alias("score"),
                           "snippet")

    def search_snippets_multi(spark, sf):
        # ES highlight number_of_fragments: one fragment per
        # distinct-term first anchor (ascending, first 2, no overlap
        # merge), ' ... '-joined — the same pruned <= k corpus read
        from engine import query as Q
        idx = _packed_index(spark, sf)
        top = Q.search(idx, "spark join fast", k=10, mode="OR")
        snip = Q.materialize_snippets(idx, top, "spark join fast",
                                      window=3, n_fragments=2)
        return snip.select("doc_id", F.round("score", 6).alias("score"),
                           "snippet")

    def search_facets(spark, sf):
        # faceted search (r4): per-facet-value doc counts over the FULL
        # match set of the boolean query — both the lang and source
        # dimensions from ONE GROUPING SETS pass over the pruned posting
        # scan's match set (engine/query.py facets). Integer counts, so
        # the oracle compare is exact.
        from engine import query as Q
        idx = _packed_index(spark, sf)
        return Q.facets(idx, "spark join fast", ["lang", "source"],
                        mode="OR")

    def facets_filtered(spark, sf):
        # AND-mode faceting under a doc_filter: counts restricted to docs
        # matching ALL query terms AND the corpus-metadata predicate
        # (filter pushed into the facet-column scan)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        return Q.facets(idx, "hash join", ["source"], mode="AND",
                        doc_filter="lang = 'en'")

    def facets_top(spark, sf):
        # sidebar cap: only the 5 most frequent values per dimension
        # survive (row_number over the aggregated rows; ties broken by
        # facet_value asc — deterministic, mirrored by QUALIFY in the
        # DuckDB twin)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        return Q.facets(idx, "spark", ["lang", "source"], mode="OR",
                        top_values=5)

    def facets_fuzzy(spark, sf):
        # fuzzy faceting (completes the facets mode set): the 'sprk'~1
        # expansion under the frozen (dist asc, df desc, term asc) cap
        # matches as OR; facet counts over that match set. Twin scans
        # the whole vocab with DuckDB levenshtein — candidate
        # COMPLETENESS of the deletion-neighborhood trick stays gated
        from engine import query as Q
        idx = _packed_index(spark, sf)
        return Q.facets(idx, "sprk", ["lang"], mode="FUZZY")

    def facets_prefix(spark, sf):
        # wildcard faceting: the s* expansion (capped, frozen df-desc
        # rule) matches as OR; facet counts over that match set
        from engine import query as Q
        idx = _packed_index(spark, sf)
        return Q.facets(idx, "s*", ["lang", "source"], mode="PREFIX")

    def batch_mixed(spark, sf):
        # E9 with PHRASE entries as full citizens (r4): one job runs
        # BM25 OR/AND, BM25-NOT, phrase, and phrase-NOT entries over the
        # SAME pruned scan of the positions index; phrase score column =
        # n_phrase as double (exact). Each row set must equal its
        # single-query twin — the oracle is the UNION ALL of the five
        # per-query SQL twins.
        from engine import query as Q
        idx = _packed_index(spark, sf, positions=True)
        out = Q.search_batch(idx, _BATCH_MIXED_SET, k=10)
        return out.select("qid", "doc_id",
                          F.round("score", 6).alias("score"))

    def batch_boosted(spark, sf):
        # E9 with per-entry decay boosts: one job runs a gauss-boosted
        # entry, an additive-decay entry, and a plain entry over the
        # SAME pruned scan (one boost vector per distinct spec per
        # shard); oracle = UNION ALL of the per-query twins
        from engine import query as Q
        idx = _packed_index(spark, sf)
        qset = [
            {"id": "g", "query": "spark join fast", "mode": "OR",
             "boost": {"field": "ts", "decay": "gauss",
                       "origin": _DECAY_ORIGIN_ISO,
                       "scale_days": _DECAY_SCALE_DAYS,
                       "offset_days": _DECAY_OFFSET_DAYS}},
            {"id": "s", "query": "spark join fast", "mode": "OR",
             "boost": {"field": "ts", "decay": "gauss",
                       "origin": _DECAY_ORIGIN_ISO,
                       "scale_days": _DECAY_SCALE_DAYS,
                       "offset_days": _DECAY_OFFSET_DAYS,
                       "boost_mode": "sum", "weight": 0.5}},
            {"id": "plain", "query": "spark join fast", "mode": "OR"},
        ]
        out = Q.search_batch(idx, qset, k=10)
        return out.select("qid", "doc_id",
                          F.round("score", 6).alias("score"))

    def batch_per_k(spark, sf):
        # ES _msearch per-entry size: each entry cut at its OWN k on
        # the shared scan (kernel-level per-qid cuts + a literal-map
        # window limit); oracle = UNION ALL of per-query twins at the
        # matching LIMITs
        from engine import query as Q
        idx = _packed_index(spark, sf)
        qset = [{"id": "k5", "query": "spark join fast", "mode": "OR",
                 "k": 5},
                {"id": "k15", "query": "spark join fast", "mode": "OR",
                 "k": 15},
                {"id": "kd", "query": "spark hash", "mode": "AND"}]
        out = Q.search_batch(idx, qset, k=10)
        return out.select("qid", "doc_id",
                          F.round("score", 6).alias("score"))

    def batch_snippets(spark, sf):
        # E8 x E9 (r4): snippets for a WHOLE search_batch result in one
        # pruned corpus scan — per-qid anchor terms via one CASE
        # expression over the shared tokenized column
        # (materialize_snippets_batch); oracle = UNION ALL of per-query
        # snippet twins
        from engine import query as Q
        idx = _packed_index(spark, sf)
        out = Q.search_batch(idx, _BATCH_SNIP_SET, k=10)
        snip = Q.materialize_snippets_batch(idx, out, _BATCH_SNIP_SET,
                                            window=3)
        return snip.select("qid", "doc_id",
                           F.round("score", 6).alias("score"), "snippet")

    def bm25_incremental(spark, sf):
        # the streaming build pipeline (append_batch x2 -> compact) under
        # the same BM25 oracle as the batch-built index: post-compact, the
        # incremental index must rank identically to a batch build over
        # the union (engine/streaming.py contract)
        from engine import query as Q
        idx = _incremental_index(spark, sf)
        top = Q.search(idx, "vector hash spark", k=10, mode="OR")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_hybrid(spark, sf):
        # batch build + streaming append + compact, then a FILTERED
        # search: the doc_filter forces the mixed corpus read (batch
        # files derive doc_id from offsets, appended files store it) —
        # ranking and filtering must be identical to a single-path build
        from engine import query as Q
        idx = _hybrid_index(spark, sf)
        top = Q.search(idx, "hash merge scan", k=10, mode="OR",
                       doc_filter="lang = 'en'")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def match_count_q(spark, sf):
        # exact `_count` over the boolean match set (engine/matchops.py):
        # same pruned scan + arity kernel as search, one int64 per shard
        # task out — composes with exclude (NOT) like search does
        from engine.matchops import match_count
        idx = _packed_index(spark, sf)
        return match_count(idx, "spark join", mode="OR", exclude="hash")

    def match_cardinality_q(spark, sf):
        # exact distinct-value count over the match set (the ES
        # cardinality aggregation, exact): distinct `source` values
        # among docs matching the OR query — per-shard np.unique
        # map-side combine, one hash-distinct exchange of per-shard
        # distinct values (engine/matchops.py)
        from engine.matchops import match_cardinality
        idx = _packed_index(spark, sf)
        return match_cardinality(idx, "spark join", "source", mode="OR")

    def bm25_explain(spark, sf):
        # per-term score breakdown for one doc (the ES `_explain`
        # endpoint): tf/dl read from the INDEX postings, idf from the
        # lexicon — the twin recomputes everything from raw text, so
        # this row cross-checks the stored index against first
        # principles (engine/query.py explain_score)
        from engine import query as Q
        idx = _packed_index(spark, sf)
        ex = Q.explain_score(idx, "spark join fast", 1)
        return ex.select("term", "qtf", "tf", "dl", "df",
                         F.round("idf", 6).alias("idf"),
                         F.round("contribution", 6).alias("contribution"))

    def match_stats_ts(spark, sf):
        # metric aggregation over the match set: count/min/max/sum/avg of
        # the stored ts docvalue (whole-second precision, exact int64
        # reduction) for docs matching ALL query terms — served from each
        # shard's own cached docvalue slice, zero corpus scan
        from engine.matchops import match_stats
        idx = _packed_index(spark, sf)
        s = match_stats(idx, "spark join", "ts", mode="AND")
        return s.select("n_docs", "n_with_value",
                        F.round("min_val", 6).alias("min_val"),
                        F.round("max_val", 6).alias("max_val"),
                        F.round("sum_val", 6).alias("sum_val"),
                        F.round("avg_val", 6).alias("avg_val"))

    def match_ranges_ts(spark, sf):
        # range aggregation (ES `range` agg — arbitrary bucket edges
        # where match_histogram is fixed-interval): matching-doc counts
        # per half-open ts bucket; per-shard in-task bincount, shuffle
        # volume <= n_edges+1 rows per shard (engine/matchops.py
        # match_ranges)
        from engine.matchops import match_ranges
        idx = _packed_index(spark, sf)
        edges = [_TS_EPOCH0 + d * 86400 for d in (45, 90, 135)]
        return match_ranges(idx, "spark", "ts", edges)

    def match_composite_page(spark, sf):
        # composite aggregation (ES `composite` agg): paginated walk of
        # the FULL (lang, source) bucket space in key order, resumable
        # from an after key (engine/matchops.py match_composite). This
        # row gates the CURSOR itself: page 1's last keys verbatim ->
        # page 2, which must equal the ordered bucket list's rows 4..6
        # (the DuckDB twin says LIMIT 3 OFFSET 3) — a skipped or
        # duplicated bucket hash-mismatches
        from engine.matchops import match_composite
        idx = _packed_index(spark, sf)
        p1 = match_composite(idx, "spark", ["lang", "source"],
                             size=3).collect()
        after = [p1[-1]["lang"], p1[-1]["source"]]
        return match_composite(idx, "spark", ["lang", "source"],
                               size=3, after=after)

    def auto_histogram(spark, sf):
        # ES auto_date_histogram (engine/matchops.py
        # match_auto_histogram): interval picked by the frozen ladder
        # rule — smallest grain landing the match set's [min, max] in
        # <= 7 buckets — then the unchanged one-job histogram; the twin
        # replicates the ladder pick in SQL over the same ints
        from engine.matchops import match_auto_histogram
        idx = _packed_index(spark, sf)
        return match_auto_histogram(idx, "spark join", "ts",
                                    target_buckets=7)

    def match_filters_q(spark, sf):
        # ES filters agg (engine/matchops.py match_filters): named
        # OVERLAPPING predicate buckets over one query's match set,
        # each predicate evaluated once per shard over the cached
        # docvalue slice (embedded DuckDB — dialect-identical to this
        # twin by construction); zero-count buckets included
        from engine.matchops import match_filters
        idx = _packed_index(spark, sf)
        cutoff = _TS_EPOCH0 + 90 * 86400
        return match_filters(idx, "spark join", {
            "en": "lang = 'en'",
            "web": "source LIKE 'src1%'",
            "early": f"epoch(ts)::BIGINT < {cutoff}",
            "none": "lang = 'zz'",
        })

    def match_adjacency_q(spark, sf):
        # ES adjacency_matrix (engine/matchops.py match_adjacency):
        # named-filter pair intersections over the match set — diagonal
        # = each filter's count; zero pairs omitted; per-shard masks
        # over the cached docvalue slice, <= |filters|^2/2 partial rows
        from engine.matchops import match_adjacency
        idx = _packed_index(spark, sf)
        cutoff = _TS_EPOCH0 + 90 * 86400
        return match_adjacency(idx, "spark join", {
            "en": "lang = 'en'",
            "web": "source LIKE 'src1%'",
            "early": f"epoch(ts)::BIGINT < {cutoff}",
        })

    def facet_stats_lang(spark, sf):
        # terms agg + stats sub-aggregation (ES aggs-in-aggs): per lang
        # among docs matching "spark" — count + min/max/sum/avg of the
        # stored ts docvalue, reduced per group IN-TASK over each
        # shard's own columnar slice (engine/matchops.py facet_stats)
        from engine.matchops import facet_stats
        idx = _packed_index(spark, sf)
        s = facet_stats(idx, "spark", "lang", "ts")
        return s.select("facet_value", "n_docs", "n_with_value",
                        F.round("min_val", 6).alias("min_val"),
                        F.round("max_val", 6).alias("max_val"),
                        F.round("sum_val", 6).alias("sum_val"),
                        F.round("avg_val", 6).alias("avg_val"))

    def match_histogram_q(spark, sf):
        # date-histogram over the match set: docs matching the OR query
        # counted per 30-day bucket of the stored ts docvalue (floor
        # semantics, exact int64s end-to-end) — the ES date_histogram
        # pattern served from the per-shard docvalue slices
        from engine.matchops import match_histogram
        idx = _packed_index(spark, sf)
        return match_histogram(idx, "spark join", "ts", 30 * 86400,
                               mode="OR")

    def histogram_pipeline_q(spark, sf):
        # pipeline aggs over the date histogram (ES cumulative_sum +
        # derivative with min_doc_count:0 densification): weekly buckets
        # of the "spark join" match set, plus running total and
        # bucket-over-bucket delta (NULL on the first bucket) — exact
        # int64s end-to-end; the window runs over the bucket axis (time-
        # range-bounded), never the corpus
        from engine.matchops import match_histogram_pipeline
        idx = _packed_index(spark, sf)
        return match_histogram_pipeline(idx, "spark join", "ts",
                                        7 * 86400, mode="OR")

    def match_missing_q(spark, sf):
        # ES missing agg over the deliberately-sparse src_opt docvalue
        # (NULL on every 7th doc): match-set size + its unknown-value
        # count, one partial row per shard
        from engine.matchops import match_missing
        idx = _packed_index(spark, sf)
        return match_missing(idx, "spark join", "src_opt", mode="OR")

    def string_stats_q(spark, sf):
        # ES string_stats over the source docvalue of the match set:
        # exact int64 length stats + Shannon entropy of the character
        # distribution (frozen char-asc summation order)
        from engine.matchops import match_string_stats
        idx = _packed_index(spark, sf)
        df = match_string_stats(idx, "spark join", "source", mode="OR")
        return df.select("n_docs", "n_with_value", "min_len", "max_len",
                         F.round("avg_len", 6).alias("avg_len"),
                         F.round("entropy", 6).alias("entropy"))

    def histogram_having_q(spark, sf):
        # ES bucket_selector: weekly buckets of the match set that GREW
        # versus the previous week (delta_docs > 0 — the NULL first
        # bucket drops under SQL three-valued logic) — the predicate
        # string is the literal one the DuckDB twin runs
        from engine.matchops import match_histogram_having
        idx = _packed_index(spark, sf)
        return match_histogram_having(idx, "spark join", "ts", 7 * 86400,
                                      "delta_docs > 0", mode="OR")

    def histogram_top_q(spark, sf):
        # ES bucket_sort: the 3 busiest 30-day buckets (n_docs desc,
        # bucket_start asc tiebreak) of the match set
        from engine.matchops import match_histogram_top
        idx = _packed_index(spark, sf)
        return match_histogram_top(idx, "spark join", "ts", 30 * 86400,
                                   n=3, mode="OR")

    def more_like_this_q(spark, sf):
        # MLT: top-8 tf x idf terms of doc 3 (frozen deterministic cap:
        # tf*idf desc, term asc) scored as BM25 OR with qtf=1, source doc
        # excluded — the SQL twin replicates the selection rule verbatim
        from engine.matchops import more_like_this
        idx = _packed_index(spark, sf)
        top = more_like_this(idx, 3, k=10, max_terms=8)
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_deleted(spark, sf):
        # delete-by-query tombstones (engine/deletes.py): ~44% of the
        # corpus (lang = 'en') is tombstoned; results must exclude every
        # deleted doc while N/avgdl/idf stay the last build's — the
        # frozen two-phase contract, whose oracle twin is exactly the
        # doc_filter SQL with the complement predicate
        from engine import query as Q
        idx = _deleted_index(spark, sf)
        top = Q.search(idx, "vector window merge", k=10, mode="OR")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def bm25_purged(spark, sf):
        # physical purge: final-segment rewrite minus deleted postings +
        # lexicon/stats rebuild over the LIVE corpus; ranking must equal
        # BM25 computed over the surviving docs alone (doc_ids preserved
        # — purge never renumbers)
        from engine import query as Q
        idx = _deleted_index(spark, sf, purge=True)
        top = Q.search(idx, "spark hash fast", k=10, mode="OR")
        return top.select("doc_id", F.round("score", 6).alias("score"))

    def ann_cosine(spark, sf):
        e = _emb(spark, sf)
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
        qlit = F.array(*[F.lit(float(x)) for x in qv])
        dot = F.aggregate(
            F.zip_with(F.col("embedding").cast("array<double>"), qlit,
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        nrm = F.sqrt(F.aggregate(
            F.transform(F.col("embedding").cast("array<double>"), lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x))
        qn = float(sum(float(x) * float(x) for x in qv)) ** 0.5
        cos = dot / (nrm * F.lit(qn))
        return (e.filter(F.col("vec_id") != 0)
                .select("vec_id", F.round(cos, 6).alias("cos"))
                .orderBy(F.desc("cos"), F.asc("vec_id")).limit(10))

    return {
        "doclen": doclen,
        "term_stats": term_stats,
        "term_stats_hooked": term_stats_hooked,
        "corpus_stats": corpus_stats,
        "lexicon_idf": lexicon_idf,
        "tf_topk": tf_topk,
        "intersect_and": intersect_and,
        "bm25_or": bm25_or,
        "bm25_and": bm25_and,
        "bm25_qtf": bm25_qtf,
        "bm25_not": bm25_not,
        "bm25_msm": bm25_msm,
        "term_vectors": term_vectors,
        "bm25_multi": bm25_multi,
        "bm25_multi_boosted": bm25_multi_boosted,
        "bm25_bool": bm25_bool,
        "bm25_bool_msm": bm25_bool_msm,
        "bm25_term_boosts": bm25_term_boosts,
        "bm25_boosting": bm25_boosting,
        "bm25_dis_max": bm25_dis_max,
        "percolate_alerts": percolate_alerts,
        "bm25_reindexed": bm25_reindexed,
        "bm25_snapshot": bm25_snapshot,
        "bm25_collapse": bm25_collapse,
        "bm25_top_hits": bm25_top_hits,
        "bm25_rrf": bm25_rrf,
        "bm25_rescore": bm25_rescore,
        "bm25_vector_rescore": bm25_vector_rescore,
        "bm25_groups": bm25_groups,
        "bm25_page2": bm25_page2,
        "bm25_prefix": bm25_prefix,
        "bm25_prefix_capped": bm25_prefix_capped,
        "bm25_fuzzy": bm25_fuzzy,
        "bm25_fuzzy2": bm25_fuzzy2,
        "bm25_fuzzy_capped": bm25_fuzzy_capped,
        "suggest_missing": suggest_missing,
        "suggest_phrase": suggest_phrase_q,
        "significant_terms": significant_terms_q,
        "bm25_regexp": bm25_regexp,
        "bm25_regexp_capped": bm25_regexp_capped,
        "export_matches": export_matches_q,
        "bm25_synonyms": bm25_synonyms,
        "index_stats": index_stats_q,
        "match_pct_ts": match_pct_ts,
        "match_pct_binned": match_pct_binned,
        "match_mad_binned": match_mad_binned,
        "bm25_multi_match": bm25_multi_match,
        "bm25_multi_match_most": bm25_multi_match_most,
        "bm25_multi_match_cross": bm25_multi_match_cross,
        "bm25_query_string": bm25_query_string,
        "bm25_qs_fielded": bm25_qs_fielded,
        "fingerprint": fingerprint,
        "dedup_exact": dedup_exact,
        "quality_score": quality_score,
        "ann_cosine": ann_cosine,
        "token_counts": token_counts_q,
        "quality_features": quality_features_q,
        "lang_id": lang_id_q,
        "fingerprint_rolling": fingerprint_rolling_q,
        "minhash_sigs": minhash_sigs,
        "lsh_pairs": lsh_pairs,
        "ngram_jaccard": ngram_jaccard,
        "simhash": simhash_q,
        "ann_lsh": ann_lsh,
        "ann_ivf": ann_ivf,
        "near_dup_embeddings": near_dup_embeddings,
        "knn_join": knn_join,
        "events_hourly": events_hourly,
        "streaming_windowed": streaming_windowed,
        "user_sessions": user_sessions,
        "media_features": media_features,
        "bm25_incremental": bm25_incremental,
        "bm25_hybrid": bm25_hybrid,
        "phrase_search": phrase_search,
        "span_first": span_first,
        "phrase_prefix": phrase_prefix,
        "phrase_sloppy": phrase_sloppy,
        "bm25_filtered": bm25_filtered,
        "bm25_dv_filtered": bm25_dv_filtered,
        "bm25_recency_boost": bm25_recency_boost,
        "bm25_decay_gauss": bm25_decay_gauss,
        "bm25_decay_linear": bm25_decay_linear,
        "bm25_decay_sum": bm25_decay_sum,
        "search_recent": search_recent,
        "search_recent_page2": search_recent_page2,
        "search_snippets": search_snippets,
        "search_snippets_multi": search_snippets_multi,
        "search_facets": search_facets,
        "facets_filtered": facets_filtered,
        "facets_top": facets_top,
        "facets_prefix": facets_prefix,
        "batch_mixed": batch_mixed,
        "batch_boosted": batch_boosted,
        "batch_per_k": batch_per_k,
        "batch_snippets": batch_snippets,
        "bm25_deleted": bm25_deleted,
        "bm25_purged": bm25_purged,
        "match_count": match_count_q,
        "match_cardinality": match_cardinality_q,
        "bm25_explain": bm25_explain,
        "match_stats_ts": match_stats_ts,
        "match_ranges_ts": match_ranges_ts,
        "match_composite_page": match_composite_page,
        "match_filters": match_filters_q,
        "auto_histogram": auto_histogram,
        "match_adjacency": match_adjacency_q,
        "facets_fuzzy": facets_fuzzy,
        "facet_stats_lang": facet_stats_lang,
        "match_histogram": match_histogram_q,
        "histogram_pipeline": histogram_pipeline_q,
        "histogram_having": histogram_having_q,
        "histogram_top": histogram_top_q,
        "match_missing": match_missing_q,
        "string_stats": string_stats_q,
        "match_mad_ts": match_mad_ts,
        "match_all_stats": match_all_stats,
        "facet_stats_by_avg": facet_stats_by_avg,
        "rare_terms_src": rare_terms_src,
        "more_like_this": more_like_this_q,
    }


def _term_stats_hooked_sql() -> str:
    from engine.analyzer import duckdb_tokenize
    from engine.config import AnalyzerConfig
    acfg = AnalyzerConfig(stopwords=("the", "a", "of", "to"), stem="s")
    frag = duckdb_tokenize("text", acfg)
    return f"""
        WITH toks AS (SELECT doc_id, unnest({frag}) AS term FROM documents)
        SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
        FROM toks GROUP BY term"""


def _stopword_ratio_sql(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (f"len(list_filter(toks, x -> x IN ({lst})))::DOUBLE"
            " / greatest(len(toks), 1)")


def _simhash_sql(bits: int) -> str:
    sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS s{i}"
        for i in range(bits))
    recon = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)"
                       for i in range(bits))
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf,
             ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({recon})::BIGINT AS simhash FROM s"""


def _phrase_sql(terms: list[str], k: int = 10,
                exclude: list[str] | None = None,
                slop: int = 0) -> str:
    """DuckDB twin of search_phrase: sliding-window adjacency count over
    the SAME analyzer token list (frozen post-analyzer adjacency
    contract); integer counts -> exact compare. ``exclude``: NOT twin
    (drop docs containing any excluded term; positive-wins — a phrase
    term never excludes).

    ``slop`` > 0 switches the anchor condition to the frozen sloppy rule
    (engine/query.py _phrase_hits): remaining terms in order at strictly
    increasing positions, total span <= (len-1) + slop. The twin writes
    the ENGINE's greedy-leftmost chain out literally — each next
    position is ``prev + nullif(list_position(toks[(prev+1):], t), 0)``
    (NULL propagates when a term is absent after prev) — which equals
    existence because greedy minimizes the final position per anchor."""
    L = len(terms)
    if slop > 0 and L > 1:
        p = "i"
        for t in terms[1:]:
            p = f"({p} + nullif(list_position(toks[({p}+1):], '{t}'), 0))"
        conds = (f"toks[i] = '{terms[0]}' AND "
                 f"coalesce({p} - i <= {L - 1 + slop}, false)")
        L = 1  # anchors range over the whole list; the span check gates
    else:
        conds = " AND ".join(
            f"toks[i + {j}] = '{t}'" for j, t in enumerate(terms))
    not_clause = ""
    if exclude:
        negs = ", ".join(f"'{t}'" for t in sorted(set(exclude) - set(terms)))
        if negs:
            not_clause = (f" AND doc_id NOT IN (SELECT doc_id FROM "
                          f"(SELECT doc_id, unnest({_TOK_SQL}) AS term "
                          f"FROM documents) WHERE term IN ({negs}))")
    return f"""
WITH t AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
m AS (SELECT doc_id,
        len(list_filter(generate_series(1, greatest(len(toks) - {L - 1}, 0)),
            i -> {conds}))::BIGINT AS n_phrase
      FROM t)
SELECT doc_id, n_phrase FROM m WHERE n_phrase > 0{not_clause}
ORDER BY n_phrase DESC, doc_id ASC LIMIT {k}"""


def _snippet_over(topk_sql: str, query_terms: list[str],
                  window: int = 3) -> str:
    """Snippet expression over an arbitrary (doc_id, score) top-k
    subquery — the shared body of _snippet_sql and _batch_snippets_sql.
    list_position == Spark array_position (1-based, 0 when absent ->
    nullif/least/coalesce mirror the Column expression); DuckDB
    ``toks[a:b]`` slicing is 1-based inclusive with a clamped end, the
    same frame as Spark ``slice(toks, a, b - a + 1)``."""
    terms = sorted(set(query_terms))
    nullifs = ", ".join(f"nullif(list_position(toks, '{t}'), 0)"
                        for t in terms)
    first = (f"least({nullifs})" if len(terms) > 1
             else nullifs) if terms else "NULL"
    return f"""
WITH topk AS ({topk_sql}),
t AS (
  SELECT d.doc_id, tk.score, {_TOK_SQL} AS toks
  FROM documents d JOIN topk tk USING (doc_id)
),
p AS (
  SELECT doc_id, score, toks, coalesce({first}, 1) AS p FROM t
)
SELECT doc_id, score,
       array_to_string(toks[greatest(1, p - {window}) : p + {window}],
                       ' ') AS snippet
FROM p ORDER BY score DESC, doc_id ASC"""


def _snippet_sql(query_terms: list[str], k: int = 10,
                 window: int = 3) -> str:
    """DuckDB twin of materialize_snippets over the bm25 top-k: snippet =
    ``window`` analyzer tokens either side of the FIRST occurrence of any
    query term."""
    return _snippet_over(_bm25_sql(query_terms, "OR", k), query_terms,
                         window)


def _snippet_multi_sql(query_terms: list[str], k: int = 10,
                       window: int = 3, n_fragments: int = 2) -> str:
    """DuckDB twin of materialize_snippets(n_fragments>1): one fragment
    per distinct-term first anchor (ascending, first n kept, overlaps
    NOT merged), ' ... '-joined — list_sort/list_distinct/list_filter/
    list_transform mirror the Spark expression tree exactly."""
    terms = sorted(set(query_terms))
    nullifs = ", ".join(f"nullif(list_position(toks, '{t}'), 0)"
                        for t in terms)
    return f"""
WITH topk AS ({_bm25_sql(query_terms, "OR", k)}),
t AS (
  SELECT d.doc_id, tk.score, {_TOK_SQL} AS toks
  FROM documents d JOIN topk tk USING (doc_id)
),
a AS (
  SELECT doc_id, score, toks,
         list_sort(list_distinct(list_filter([{nullifs}],
                                             x -> x IS NOT NULL)))
           [1 : {int(n_fragments)}] AS anchors
  FROM t
)
SELECT doc_id, score,
       coalesce(array_to_string(
         list_transform(anchors,
                        a -> array_to_string(
                          toks[greatest(1, a - {window}) : a + {window}],
                          ' ')),
         ' ... '), '') AS snippet
FROM a ORDER BY score DESC, doc_id ASC"""


def _facets_sql(query_terms: list[str], mode: str, fields: list[str],
                where: str | None = None,
                top_values: int | None = None,
                prefix: str | None = None,
                max_expansions: int = 64) -> str:
    """DuckDB twin of engine.query.facets: facet-value counts over the
    FULL match set (OR: any term; AND: all distinct terms), one GROUPING
    SETS pass for every facet dimension — the same aggregation shape the
    Spark plan compiles to (Expand + single-exchange hash aggregate).
    ``where`` mirrors the doc_filter (restricts counted docs only);
    ``top_values`` mirrors the per-dimension sidebar cap (QUALIFY
    row_number == Spark's rank-over-window, same tie order).
    ``prefix`` mirrors facets(mode="PREFIX"): the match set is docs
    containing ANY of the <= max_expansions highest-df terms matching
    the prefix (the frozen search_prefix expansion rule)."""
    if prefix is not None:
        sets_ = ", ".join(f"(d.{f})" for f in fields)
        ff_ = "CASE " + " ".join(f"WHEN GROUPING(d.{f}) = 0 THEN '{f}'"
                                 for f in fields) + " END"
        fv_ = "CASE " + " ".join(f"WHEN GROUPING(d.{f}) = 0 THEN d.{f}"
                                 for f in fields) + " END"
        return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tfq AS (
  SELECT DISTINCT doc_id, term FROM toks WHERE term LIKE '{prefix}%'
),
dfreq AS (
  SELECT term, count(*) AS df FROM tfq GROUP BY term
),
exp AS (
  SELECT term FROM dfreq ORDER BY df DESC, term ASC
  LIMIT {max_expansions}
),
matched AS (
  SELECT DISTINCT doc_id FROM tfq JOIN exp USING (term)
)
SELECT {ff_} AS facet_field, {fv_} AS facet_value, count(*) AS n_docs
FROM documents d JOIN matched USING (doc_id)
GROUP BY GROUPING SETS ({sets_})
ORDER BY n_docs DESC, facet_field ASC, facet_value ASC"""
    terms = sorted(set(query_terms))
    terms_in = ", ".join(f"'{t}'" for t in terms)
    having = (f"HAVING count(DISTINCT term) = {len(terms)}"
              if mode == "AND" else "")
    where_clause = f"WHERE {where}" if where else ""
    sets = ", ".join(f"(d.{f})" for f in fields)
    ff = "CASE " + " ".join(f"WHEN GROUPING(d.{f}) = 0 THEN '{f}'"
                            for f in fields) + " END"
    fv = "CASE " + " ".join(f"WHEN GROUPING(d.{f}) = 0 THEN d.{f}"
                            for f in fields) + " END"
    qualify = ("QUALIFY row_number() OVER (PARTITION BY facet_field "
               f"ORDER BY n_docs DESC, facet_value ASC) <= {top_values}"
               if top_values is not None else "")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
matched AS (
  SELECT doc_id FROM toks WHERE term IN ({terms_in})
  GROUP BY doc_id {having}
)
SELECT {ff} AS facet_field, {fv} AS facet_value, count(*) AS n_docs
FROM documents d JOIN matched USING (doc_id)
{where_clause}
GROUP BY GROUPING SETS ({sets})
{qualify}
ORDER BY n_docs DESC, facet_field ASC, facet_value ASC"""


def _batch_snippets_sql(k: int = 10, window: int = 3) -> str:
    """DuckDB twin of materialize_snippets_batch over _BATCH_SNIP_SET:
    UNION ALL of each query's snippet twin, every row anchored on ITS
    OWN query's terms (the per-qid CASE in the engine expression)."""
    parts = []
    for q in _BATCH_SNIP_SET:
        terms = q["query"].split()
        excl = q["exclude"].split() if q.get("exclude") else None
        sub = _bm25_sql(terms, q["mode"], k, exclude=excl)
        snip = _snippet_over(sub, terms, window)
        parts.append(f"SELECT '{q['id']}' AS qid, doc_id, score, snippet "
                     f"FROM ({snip})")
    return "\nUNION ALL\n".join(parts)


def _mlt_sql(src: int, max_terms: int, k: int = 10) -> str:
    """DuckDB twin of matchops.more_like_this: the source doc's terms
    scored tf x idf (frozen Lucene idf over corpus-global df), top
    ``max_terms`` under the deterministic cap (tf*idf desc, term asc),
    then standard BM25 OR with qtf=1 per selected term, source doc
    excluded — selection and scoring both replicated verbatim."""
    return f"""
WITH dl AS (
  SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
srctf AS (
  SELECT term, count(*)::DOUBLE AS tf FROM toks
  WHERE doc_id = {src} GROUP BY term
),
dfall AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks
  WHERE term IN (SELECT term FROM srctf) GROUP BY term
),
sel AS (
  SELECT s.term FROM srctf s JOIN dfall d USING (term) CROSS JOIN stats st
  ORDER BY s.tf * ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) DESC,
           s.term ASC
  LIMIT {max_terms}
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
  WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * ({_K1} + 1.0))
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
WHERE doc_id <> {src}
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _media_features_sql() -> str:
    """DuckDB twin of the md5-derived fake decoder: feature j = byte j of
    md5(utf-8 text) / 256 (exact in float32 AND double -> the sum is
    engine-portable); kind/meta from doc_id % 3 as media_from_documents."""
    byte_terms = " + ".join(
        f"('0x' || substr(h, {2 * j + 1}, 2))::INT" for j in range(16))
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         strlen(text)::BIGINT AS n_bytes,
         md5(text) AS h
  FROM documents)
SELECT media_id, kind, n_bytes,
       round(({byte_terms}) / 256.0, 4) AS feat_sum
FROM m"""


def _ivf_codebook():
    """Data-independent IVF codebook (seeded random directions) so the
    DuckDB oracle reproduces identical cells at ANY scale factor; the
    learned-kmeans path (similarity.ivf_centroids) is the production
    variant and is exercised in pytest."""
    from engine.similarity import ivf_random_codebook
    return ivf_random_codebook(64, 8)


def _ann_ivf_sql(nprobe: int = 2, k: int = 10) -> str:
    from engine.similarity import _cell_scores
    cs = _cell_scores(_ivf_codebook())

    def arr(c):
        return "[" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[]"

    def score(col, c, h):
        return f"list_dot_product({col}::DOUBLE[], {arr(c)}) - {h!r}"

    e_scores = ", ".join(score("embedding", c, h) for c, h in cs)
    q_scores = ", ".join(score("qv", c, h) for c, h in cs)
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
         list_indexof([{e_scores}], list_max([{e_scores}])) AS cell
  FROM embeddings
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT [{q_scores}] AS sc FROM q),
cells AS (SELECT j AS cell, sc[j] AS s
          FROM qs, generate_series(1, {len(cs)}) AS t(j)),
probe AS (SELECT cell FROM cells ORDER BY s DESC, cell ASC LIMIT {nprobe})
SELECT vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cos
FROM e, q WHERE e.cell IN (SELECT cell FROM probe) AND vec_id <> 0
ORDER BY cos DESC, vec_id ASC LIMIT {k}"""


def _lsh_bucket_frag(n_planes: int = 8) -> str:
    """DuckDB twin of similarity.lsh_bucket_expr (same seed-42 planes)."""
    from engine.similarity import _planes
    planes = _planes(64, n_planes, 42)
    def arr(p):
        return "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]::DOUBLE[]"
    return " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)}) > 0"
        f" THEN {1 << p} ELSE 0 END)" for p in range(n_planes))


_COS_AB = """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""


def _near_dup_sql(threshold: float = 0.9, n_planes: int = 8) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding, ({_lsh_bucket_frag(n_planes)})::BIGINT AS bkt
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_AB}, 6) AS cos
FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE round({_COS_AB}, 6) >= {threshold}"""


def _knn_join_sql(k: int = 3, n_planes: int = 8) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding, ({_lsh_bucket_frag(n_planes)})::BIGINT AS bkt
           FROM embeddings),
p AS (SELECT a.vec_id AS id, b.vec_id AS neighbor, round({_COS_AB}, 6) AS cos
      FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor ASC) AS rn
      FROM p)
SELECT id, neighbor, cos FROM r WHERE rn <= {k}"""


def _ann_lsh_sql(n_planes: int = 8, radius: int = 1, k: int = 10) -> str:
    bucket = _lsh_bucket_frag(n_planes)
    return f"""
WITH e AS (SELECT vec_id, embedding, ({bucket})::BIGINT AS bkt FROM embeddings),
q AS (SELECT embedding AS qv, bkt AS qbkt FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cos
FROM e, q WHERE vec_id <> 0 AND bit_count(xor(e.bkt, q.qbkt)) <= {radius}
ORDER BY cos DESC, vec_id ASC LIMIT {k}"""


_SHINGLES_CTE = f"""
d AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
s0 AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 2)) AS i FROM d),
sh AS (SELECT doc_id,
              toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS sh
       FROM s0)"""

_MINHASH_CTE = _SHINGLES_CTE + """,
m AS (SELECT doc_id, min(md5('0#' || sh)) AS h0, min(md5('1#' || sh)) AS h1,
             min(md5('2#' || sh)) AS h2, min(md5('3#' || sh)) AS h3
      FROM sh GROUP BY doc_id)"""


def oracle_sql() -> dict[str, str]:
    from engine.analyzer import duckdb_tokenize, tokenize_py
    from engine.config import AnalyzerConfig
    toks_cte = f"SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents"
    bpe_sql = r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')"
    reidx_acfg = AnalyzerConfig(stopwords=("fast",), stem="s")
    return {
        "doclen": f"SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents",
        "term_stats": f"""
            SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
            FROM ({toks_cte}) GROUP BY term""",
        "corpus_stats": f"""
            WITH dl AS (SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents)
            SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl,
                   sum(dl)::BIGINT AS n_tokens FROM dl""",
        "lexicon_idf": f"""
            WITH d AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                       FROM ({toks_cte}) GROUP BY term),
                 s AS (SELECT count(*)::DOUBLE AS n FROM documents)
            SELECT term, df::BIGINT AS df,
                   round(ln(1.0 + (s.n - df + 0.5) / (df + 0.5)), 6) AS idf
            FROM d CROSS JOIN s""",
        "tf_topk": f"""
            SELECT doc_id, term, count(*) AS tf FROM ({toks_cte})
            GROUP BY doc_id, term
            ORDER BY tf DESC, doc_id ASC, term ASC LIMIT 20""",
        "intersect_and": f"""
            WITH t AS ({toks_cte})
            SELECT DISTINCT doc_id FROM t WHERE term = 'hash'
            AND doc_id IN (SELECT doc_id FROM t WHERE term = 'vector')
            AND doc_id IN (SELECT doc_id FROM t WHERE term = 'window')""",
        "bm25_or": _bm25_sql(["spark", "join", "fast"], "OR"),
        "bm25_and": _bm25_sql(["hash", "join", "merge"], "AND"),
        "bm25_qtf": _bm25_sql(["spark", "spark", "vector"], "OR"),
        "bm25_not": _bm25_sql(["join", "spark"], "OR", exclude=["hash"]),
        "bm25_msm": _bm25_sql(["spark", "join", "fast"], "OR", min_match=2),
        "term_vectors": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT term, count(*)::BIGINT AS tf FROM toks WHERE doc_id = 7
  GROUP BY term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
         count(*)::BIGINT AS cf
  FROM toks GROUP BY term
),
stats AS (SELECT count(*)::DOUBLE AS n FROM documents)
SELECT t.term, t.tf, d.df, d.cf,
       round(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)), 6) AS idf
FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
ORDER BY term
""",
        "bm25_multi": _bm25_sql(["spark", "join", "fast"], "OR"),
        # indices_boost twin: the member split is the stable-order
        # doc_id halves (conv-id prefix cut at n//2), boost as a
        # per-doc multiplier over the union scoring
        "bm25_multi_boosted": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            boost_mult=("CASE WHEN doc_id < (SELECT count(*) // 2 "
                        "FROM documents) THEN 1.0 ELSE 3.0 END")),
        "bm25_bool": _bm25_sql(["spark", "join", "fast"], "OR",
                               must_terms=["spark"]),
        "bm25_bool_msm": _bm25_sql(["spark", "join", "fast", "vector"],
                                   "OR", must_terms=["spark"],
                                   min_should=2),
        "bm25_term_boosts": _bm25_sql(["spark", "join", "fast"], "OR",
                                      weights={"join": 2.5, "fast": 0.5}),
        # boosting-query twin: the demote factor multiplies the frozen
        # BM25 sum for docs containing the negative term (same float64
        # grouping as the kernel: sum first, then * 0.3)
        "bm25_boosting": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            boost_mult=("CASE WHEN doc_id IN (SELECT DISTINCT doc_id "
                        "FROM toks WHERE term = 'hash') "
                        "THEN 0.3 ELSE 1.0 END")),
        "bm25_dis_max": _dis_max_sql(
            [["spark", "join"], ["fast", "vector"]], 0.3),
        # reindex twin: the hooked tokenizer chain (stopword 'fast' +
        # plural stemmer) applied on BOTH the corpus and the query —
        # 'spark fast joins' analyzes to ['spark', 'join'] under it
        "bm25_reindexed": _bm25_sql(
            tokenize_py("spark fast joins", reidx_acfg), "OR",
            tok_sql=duckdb_tokenize("text", reidx_acfg)),
        # snapshot twin: the restored copy must reproduce the plain
        # BM25 ranking bit-for-bit
        "bm25_snapshot": _bm25_sql(["table", "hash", "vector"], "OR"),
        # percolator twin: |terms(query) ∩ terms(doc)| >= required over
        # the SAME saved-query literals the entry registers; the doc is
        # documents.doc_id=7's text with ' spark join' appended (both
        # sides), so alert-and always fires and the rest depend on the
        # doc — set semantics via list_intersect (distinct elements)
        "percolate_alerts": f"""
            WITH q(query_id, terms, required) AS (VALUES
              ('alert-and', ['join', 'spark'], 2),
              ('alert-or', ['hash', 'vector'], 1),
              ('alert-msm', ['fast', 'spark', 'table'], 2)),
            doc AS (
              SELECT regexp_extract_all(lower(text || ' spark join'),
                                        '[a-z0-9]+') AS toks
              FROM documents WHERE doc_id = 7)
            SELECT query_id FROM q, doc
            WHERE len(list_intersect(q.terms, doc.toks)) >= q.required
            ORDER BY query_id""",
        "bm25_collapse": _bm25_sql(["spark", "join", "fast"], "OR",
                                   collapse_field="lang"),
        "bm25_top_hits": _bm25_sql(["spark", "join", "fast"], "OR", k=3,
                                   collapse_field="source",
                                   collapse_hits=3),
        "bm25_rrf": _rrf_sql(["spark", "join", "fast"],
                             ["vector", "hash"], k=10, window=50),
        "bm25_rescore": _rescore_sql(["spark", "join", "fast"],
                                     ["join", "fast"], k=10, window=50,
                                     wq=1.0, wr=2.0),
        # hybrid twin: primary raw window LEFT JOINed to the full
        # cosine set (frozen ann_cosine formula), engine's literal
        # wq*p + wv*coalesce(cos, 0) combine
        "bm25_vector_rescore": f"""
WITH p AS ({_bm25_sql(["spark", "join", "fast"], "OR", k=50,
                      raw_score=True)}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
           / (sqrt(list_dot_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]))
              * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])))
           AS cos
  FROM embeddings CROSS JOIN q)
SELECT p.doc_id,
       round(1.0 * p.score + 2.0 * coalesce(c.cos, 0.0), 6) AS score
FROM p LEFT JOIN c USING (doc_id)
ORDER BY (1.0 * p.score + 2.0 * coalesce(c.cos, 0.0)) DESC,
         p.doc_id ASC
LIMIT 10""",
        "bm25_groups": _groups_sql(["spark", "join", "fast"], "source",
                                   k=10, score_mode="sum"),
        "bm25_page2": _bm25_sql(["spark", "join", "fast"], "OR", offset=10),
        "bm25_prefix": _bm25_prefix_sql("s"),
        "bm25_prefix_capped": _bm25_prefix_sql("s", max_expansions=3),
        "bm25_fuzzy": _bm25_fuzzy_sql("sprk", max_edits=1),
        "bm25_fuzzy2": _bm25_fuzzy_sql("sprk", max_edits=2),
        "bm25_fuzzy_capped": _bm25_fuzzy_sql("joi", max_edits=2,
                                             max_expansions=1),
        "suggest_missing": _suggest_sql(["sprk", "join", "sow"],
                                        max_edits=2, n=3),
        "suggest_phrase": _suggest_phrase_sql(["sprak", "joni"],
                                              max_edits=2, n=5,
                                              per_term=3),
        "significant_terms": _sig_terms_sql(["spark", "join"],
                                            n=8, sample=50),
        "bm25_synonyms": _bm25_sql(["fast", "slow", "slow"], "OR"),
        "match_pct_ts": f"""
            WITH t AS ({toks_cte}),
            m AS (
              SELECT DISTINCT doc_id FROM t
              WHERE term IN ('spark', 'join')
            ),
            vals AS (
              SELECT ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS v
              FROM m
            ),
            n AS (SELECT count(*)::BIGINT AS c FROM vals),
            h AS (SELECT v, count(*)::BIGINT AS cnt FROM vals GROUP BY v),
            c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM h)
            SELECT q.p::DOUBLE AS p,
                   (SELECT min(v) FROM c, n
                    WHERE cum >= ceil(q.p * n.c))::BIGINT AS value
            FROM (VALUES (0.5), (0.9), (0.99)) q(p) ORDER BY p""",
        "bm25_query_string": _bm25_sql(
            ["spark", "join", "fast"], "OR", must_terms=["spark"],
            weights={"fast": 2.0}, exclude=["slow"]),
        "bm25_multi_match": _multi_match_sql(
            ["spark", "en", "src8"],
            [("text", 1.0), ("lang", 2.0), ("source", 1.5)], 0.3),
        "bm25_multi_match_most": _multi_match_sql(
            ["join", "src5"], [("text", 1.0), ("source", 1.5)], 0.0,
            mt="most_fields"),
        "bm25_multi_match_cross": _multi_match_sql(
            ["spark", "en", "src8"],
            [("text", 1.0), ("lang", 2.0), ("source", 1.5)], 0.2,
            mt="cross_fields"),
        "bm25_qs_fielded": _fielded_sql(
            [("lang", {"en": 2.0}), ("source", {"src8": 1.0}),
             ("text", {"spark": 1.0})]),
        # bounded-state binned percentiles twin: the frozen integer
        # binning rule in pure int64 (width = max(1, ceil(span/16)) via
        # (span + 15) // 16; bin = (v - vmin) // width; value = lower
        # edge of the DISC bin) — bit-identical to the engine's walk
        "match_pct_binned": f"""
            WITH t AS ({toks_cte}),
            m AS (
              SELECT DISTINCT doc_id FROM t
              WHERE term IN ('spark', 'join')
            ),
            vals AS (
              SELECT ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS v
              FROM m
            ),
            s AS (SELECT min(v) AS vmin, max(v) AS vmax,
                         count(*)::BIGINT AS n FROM vals),
            w AS (SELECT vmin, n,
                         greatest(1, (vmax - vmin + 16) // 16) AS wd
                  FROM s),
            h AS (SELECT (v - w.vmin) // w.wd AS b,
                         count(*)::BIGINT AS cnt
                  FROM vals, w GROUP BY 1),
            c AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum FROM h)
            SELECT q.p::DOUBLE AS p,
                   ((SELECT vmin FROM w) + (SELECT wd FROM w) *
                    (SELECT min(b) FROM c
                     WHERE cum >= ceil(q.p * (SELECT n FROM w))))::BIGINT
                     AS value
            FROM (VALUES (0.5), (0.9), (0.99)) q(p) ORDER BY p""",
        # bounded-state binned MAD twin: both medians DISC-walk the bin
        # histogram, values represented by bin lower edges
        "match_mad_binned": f"""
            WITH t AS ({toks_cte}),
            m AS (
              SELECT DISTINCT doc_id FROM t
              WHERE term IN ('join', 'spark')
            ),
            vals AS (
              SELECT ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS v
              FROM m
            ),
            s AS (SELECT min(v) AS vmin, max(v) AS vmax,
                         count(*)::BIGINT AS n FROM vals),
            w AS (SELECT vmin, n,
                         greatest(1, (vmax - vmin + 16) // 16) AS wd
                  FROM s),
            h AS (SELECT (v - w.vmin) // w.wd AS b,
                         count(*)::BIGINT AS cnt
                  FROM vals, w GROUP BY 1),
            c AS (SELECT b, sum(cnt) OVER (ORDER BY b) AS cum FROM h),
            med AS (SELECT (SELECT vmin FROM w) + (SELECT wd FROM w) *
                           (SELECT min(b) FROM c
                            WHERE cum >= ceil(0.5 * (SELECT n FROM w)))
                           AS mv),
            dh AS (SELECT abs((SELECT vmin FROM w)
                              + (SELECT wd FROM w) * b
                              - (SELECT mv FROM med)) AS dv,
                          sum(cnt)::BIGINT AS cnt
                   FROM h GROUP BY 1),
            dc AS (SELECT dv, sum(cnt) OVER (ORDER BY dv) AS cum FROM dh)
            SELECT (SELECT n FROM w) AS n_values,
                   (SELECT mv FROM med)::BIGINT AS median,
                   (SELECT min(dv) FROM dc
                    WHERE cum >= ceil(0.5 * (SELECT n FROM w)))::BIGINT
                    AS mad""",
        # terms-agg-by-sub-agg twin: the facet_stats_lang CTE with the
        # metric ordering (avg asc, NULLs last, facet_value tiebreak)
        "facet_stats_by_avg": f"""
            WITH m AS (
              SELECT doc_id, lang,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE len(list_intersect({_TOK_SQL}, ['spark'])) > 0)
            SELECT lang AS facet_value, count(*)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_with_value,
                   round(min(s)::DOUBLE, 6) AS min_val,
                   round(max(s)::DOUBLE, 6) AS max_val,
                   round(sum(s)::DOUBLE, 6) AS sum_val,
                   round(sum(s)::DOUBLE / count(*), 6) AS avg_val
            FROM m GROUP BY lang
            ORDER BY avg_val ASC NULLS LAST,
                     facet_value ASC NULLS FIRST""",
        # exact rare_terms twin: global counts, post-merge threshold
        "rare_terms_src": f"""
            WITH m AS (
              SELECT doc_id, source FROM documents
              WHERE list_has_all({_TOK_SQL}, ['join', 'spark'])),
            c AS (
              SELECT source AS facet_value, count(*)::BIGINT AS n_docs
              FROM m WHERE source IS NOT NULL GROUP BY source)
            SELECT facet_value, n_docs FROM c WHERE n_docs <= 2
            ORDER BY n_docs ASC, facet_value ASC LIMIT 10""",
        # match-all twin: every doc passing the filter, ts recomputed
        # arithmetically, whole-second stats
        "match_all_stats": f"""
            WITH m AS (
              SELECT ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents WHERE lang = 'en')
            SELECT count(*)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_with_value,
                   round(min(s)::DOUBLE, 6) AS min_val,
                   round(max(s)::DOUBLE, 6) AS max_val,
                   round(sum(s)::DOUBLE, 6) AS sum_val,
                   round(sum(s)::DOUBLE / count(*), 6) AS avg_val
            FROM m""",
        # exact MAD twin: the same DISC rule for both medians, the
        # deviation histogram folded from the value histogram
        "match_mad_ts": f"""
            WITH t AS ({toks_cte}),
            m AS (
              SELECT DISTINCT doc_id FROM t
              WHERE term IN ('join', 'spark')
            ),
            vals AS (
              SELECT ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS v
              FROM m
            ),
            n AS (SELECT count(*)::BIGINT AS c FROM vals),
            h AS (SELECT v, count(*)::BIGINT AS cnt FROM vals GROUP BY v),
            c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM h),
            med AS (SELECT (SELECT min(v) FROM c, n
                            WHERE cum >= ceil(0.5 * n.c))::BIGINT AS m),
            dh AS (SELECT abs(v - (SELECT m FROM med)) AS dv,
                          sum(cnt)::BIGINT AS cnt
                   FROM h GROUP BY 1),
            dc AS (SELECT dv, sum(cnt) OVER (ORDER BY dv) AS cum FROM dh)
            SELECT n.c AS n_values,
                   (SELECT m FROM med) AS median,
                   (SELECT min(dv) FROM dc, n
                    WHERE cum >= ceil(0.5 * n.c))::BIGINT AS mad
            FROM n""",
        "index_stats": f"""
            WITH tf AS (
              SELECT doc_id, term, count(*)::BIGINT AS tf
              FROM ({toks_cte}) GROUP BY doc_id, term
            )
            SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
                   count(DISTINCT term)::BIGINT AS n_terms,
                   count(*)::BIGINT AS n_postings,
                   sum(tf)::BIGINT AS n_tokens,
                   0::BIGINT AS n_deleted
            FROM tf""",
        "bm25_regexp": _bm25_regexp_sql("s(park|can)"),
        "bm25_regexp_capped": _bm25_regexp_sql("[bs][a-z]+",
                                               max_expansions=4),
        "export_matches": f"""
            WITH t AS ({toks_cte}),
            m AS (
              SELECT doc_id FROM t WHERE term = 'hash'
              INTERSECT
              SELECT doc_id FROM t WHERE term = 'vector'
            )
            SELECT d.doc_id, printf('conv-%012d', d.doc_id) AS conv_id,
                   d.lang
            FROM documents d JOIN m USING (doc_id)
            WHERE d.lang = 'en'""",
        "term_stats_hooked": _term_stats_hooked_sql(),
        "fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string({_TOK_SQL}, ' ')) AS fp
            FROM documents""",
        "dedup_exact": f"""
            WITH fp AS (SELECT doc_id,
                        md5(array_to_string({_TOK_SQL}, ' ')) AS fp
                        FROM documents)
            SELECT fp, min(doc_id) AS rep_doc_id, count(*) AS n_dups
            FROM fp GROUP BY fp""",
        "quality_score": f"""
            WITH t AS (
              SELECT doc_id, {_TOK_SQL} AS toks, text FROM documents
            )
            SELECT doc_id, len(toks) AS n_tokens,
                   round(len(list_filter(toks, x -> x IN ('the', 'a')))::DOUBLE
                         / greatest(len(toks), 1), 6) AS stop_ratio,
                   round(1.0 - len(list_filter(toks, x -> x IN ('the', 'a')))::DOUBLE
                         / greatest(len(toks), 1), 6) AS quality
            FROM t""",
        "ann_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cos
            FROM embeddings CROSS JOIN q WHERE vec_id <> 0
            ORDER BY cos DESC, vec_id ASC LIMIT 10""",
        "token_counts": f"""
            SELECT doc_id, len({_TOK_SQL})::BIGINT AS n_tokens,
                   len({bpe_sql})::BIGINT AS n_bpe_tokens,
                   length(text)::BIGINT AS n_chars
            FROM documents""",
        "quality_features": f"""
            WITH t AS (SELECT doc_id, text, {_TOK_SQL} AS toks FROM documents),
            r AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
                   {_stopword_ratio_sql(["the", "a", "and", "of", "to", "is"])} AS sr,
                   (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
                     / greatest(length(text), 1) AS pr,
                   coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
                     / greatest(len(toks), 1) AS mtl,
                   least(len(toks)::DOUBLE / 100.0, 1.0) AS lenf
                  FROM t)
            SELECT doc_id, n_tokens, round(sr, 6) AS stop_ratio,
                   round(pr, 6) AS punct_ratio, round(mtl, 6) AS mean_tok_len,
                   round(0.4 * lenf + 0.3 * (1.0 - sr) + 0.3 * (1.0 - pr), 6) AS quality
            FROM r""",
        "lang_id": f"""
            WITH t AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
            r AS (SELECT doc_id,
                   {_stopword_ratio_sql(["der", "die", "das", "und", "zu", "ist"])} AS r_de,
                   {_stopword_ratio_sql(["the", "a", "and", "of", "to", "is"])} AS r_en,
                   {_stopword_ratio_sql(["el", "la", "de", "y", "que", "en"])} AS r_es,
                   {_stopword_ratio_sql(["le", "la", "de", "et", "les", "est"])} AS r_fr
                  FROM t)
            SELECT doc_id, round(greatest(r_de, r_en, r_es, r_fr), 6) AS best_ratio,
                   CASE WHEN greatest(r_de, r_en, r_es, r_fr) < 0.02 THEN 'und'
                        WHEN r_de = greatest(r_de, r_en, r_es, r_fr) THEN 'de'
                        WHEN r_en = greatest(r_de, r_en, r_es, r_fr) THEN 'en'
                        WHEN r_es = greatest(r_de, r_en, r_es, r_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM r""",
        "minhash_sigs": f"""
            WITH {_MINHASH_CTE}
            SELECT d.doc_id, h0, h1, h2, h3 FROM d LEFT JOIN m USING (doc_id)""",
        "lsh_pairs": f"""
            WITH {_MINHASH_CTE},
            k AS (SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM m
                  UNION ALL
                  SELECT doc_id, 1, md5(h2 || '|' || h3) FROM m)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM k a JOIN k b ON a.band = b.band AND a.key = b.key
                             AND a.doc_id < b.doc_id""",
        "ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            s AS (SELECT DISTINCT doc_id, sh FROM sh),
            sz AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
            i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            j AS (SELECT doc_a, doc_b,
                         round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
                  FROM i JOIN sz sa ON i.doc_a = sa.doc_id
                         JOIN sz sb ON i.doc_b = sb.doc_id)
            SELECT * FROM j WHERE jaccard >= 0.5""",
        "fingerprint_rolling": f"""
            WITH t AS (SELECT doc_id,
                   list_transform({_TOK_SQL},
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                            % 2147483647) AS hs
                   FROM documents)
            SELECT doc_id,
                   CASE WHEN len(hs) = 0 THEN 0
                        ELSE list_reduce(hs,
                             (a, x) -> (a * 1000003 + x) % 2147483647)
                   END::BIGINT AS fp64
            FROM t""",
        "simhash": _simhash_sql(16),
        "ann_lsh": _ann_lsh_sql(8, 1, 10),
        "ann_ivf": _ann_ivf_sql(2, 10),
        "near_dup_embeddings": _near_dup_sql(0.3, _adaptive_planes_sf001()),
        "knn_join": _knn_join_sql(3, _adaptive_planes_sf001()),
        "media_features": _media_features_sql(),
        "bm25_incremental": _bm25_sql(["vector", "hash", "spark"], "OR"),
        "bm25_hybrid": _bm25_sql(["hash", "merge", "scan"], "OR",
                                 where="lang = 'en'"),
        "phrase_search": _phrase_sql(["table", "hash"], 10),
        # match_phrase_prefix twin: the frozen expansion rule as a list
        # scalar (df desc, term asc, LIMIT 64 over terms LIKE 'ha%'),
        # anchor condition toks[i] = 'table' AND toks[i+1] IN expansion
        "phrase_prefix": f"""
            WITH t AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
            tfq AS (
              SELECT DISTINCT doc_id, term FROM (
                SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents)
              WHERE term LIKE 'ha%'),
            dfreq AS (
              SELECT term, count(*) AS df FROM tfq GROUP BY term),
            exp AS (
              SELECT list(term) AS el FROM (
                SELECT term FROM dfreq
                ORDER BY df DESC, term ASC LIMIT 64)),
            m AS (
              SELECT doc_id,
                     len(list_filter(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> toks[i] = 'table'
                            AND list_contains(el, toks[i+1])))::BIGINT
                       AS n_phrase
              FROM t CROSS JOIN exp)
            SELECT doc_id, n_phrase FROM m WHERE n_phrase > 0
            ORDER BY n_phrase DESC, doc_id ASC LIMIT 10""",
        # span_first twin: occurrences of the term within the first 5
        # 0-based analyzer positions == count of equal tokens in the
        # 1-based list slice toks[1:5]
        "span_first": f"""
            SELECT doc_id, n_within FROM (
              SELECT doc_id,
                     len(list_filter(({_TOK_SQL})[1:5],
                                     t -> t = 'spark'))::BIGINT AS n_within
              FROM documents)
            WHERE n_within > 0
            ORDER BY n_within DESC, doc_id ASC LIMIT 10""",
        "phrase_sloppy": _phrase_sql(["table", "hash"], 10, slop=3),
        "bm25_filtered": _bm25_sql(["spark", "join", "fast"], "OR",
                                   where="lang = 'en'"),
        "bm25_dv_filtered": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            where="lang = 'en' AND source IN ('src1','src2','src3')"),
        "bm25_recency_boost": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            # ts recomputed arithmetically (documents has no ts column):
            # epoch0 + (doc_id % 180) days; frozen decay formula
            boost_mult=(
                f"power(0.5, greatest(0, {_BOOST_NOW_S} - "
                f"({_TS_EPOCH0} + (doc_id % 180) * 86400))::DOUBLE "
                f"/ {_BOOST_HL_DAYS * 86400.0})")),
        # decay-family twins (docvalues.decay_multiplier formulas with
        # the engine's exact constants — sigma^2 / s rendered via repr
        # so both sides multiply/divide the identical float64 literals)
        "bm25_decay_gauss": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            boost_mult=(
                f"exp(-({_DECAY_DIST_SQL} * {_DECAY_DIST_SQL}) "
                f"/ (2 * {_DECAY_SIGMA2!r}))")),
        "bm25_decay_linear": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            boost_mult=(
                f"greatest(({_DECAY_LINEAR_S!r} - {_DECAY_DIST_SQL}) "
                f"/ {_DECAY_LINEAR_S!r}, 0)")),
        # boost_mode=sum twin: score + weight * gauss — the engine's
        # additive combine with the function weight folded into v
        "bm25_decay_sum": _bm25_sql(
            ["spark", "join", "fast"], "OR",
            boost_add=(
                f"0.5 * exp(-({_DECAY_DIST_SQL} * {_DECAY_DIST_SQL}) "
                f"/ (2 * {_DECAY_SIGMA2!r}))")),
        "search_recent": f"""
SELECT doc_id,
       round(({_TS_EPOCH0} + (doc_id % 180) * 86400)::DOUBLE, 6) AS sort_val
FROM documents
WHERE list_has_all({_TOK_SQL}, ['spark', 'join'])
ORDER BY sort_val DESC, doc_id ASC LIMIT 10
""",
        "search_recent_page2": f"""
SELECT doc_id,
       round(({_TS_EPOCH0} + (doc_id % 180) * 86400)::DOUBLE, 6) AS sort_val
FROM documents
WHERE list_has_all({_TOK_SQL}, ['spark', 'join'])
ORDER BY sort_val DESC, doc_id ASC LIMIT 10 OFFSET 10
""",
        "search_snippets": _snippet_sql(["spark", "join", "fast"], 10, 3),
        "search_snippets_multi": _snippet_multi_sql(
            ["spark", "join", "fast"], 10, 3, 2),
        "search_facets": _facets_sql(["spark", "join", "fast"], "OR",
                                     ["lang", "source"]),
        "facets_filtered": _facets_sql(["hash", "join"], "AND",
                                       ["source"], where="lang = 'en'"),
        "facets_top": _facets_sql(["spark"], "OR", ["lang", "source"],
                                  top_values=5),
        "facets_prefix": _facets_sql([], "OR", ["lang", "source"],
                                     prefix="s"),
        "batch_mixed": _batch_mixed_sql(10),
        "batch_per_k": " UNION ALL ".join(
            f"SELECT '{qid}' AS qid, doc_id, score FROM ({sql})"
            for qid, sql in [
                ("k15", _bm25_sql(["spark", "join", "fast"], "OR",
                                  k=15)),
                ("k5", _bm25_sql(["spark", "join", "fast"], "OR", k=5)),
                ("kd", _bm25_sql(["spark", "hash"], "AND", k=10)),
            ]),
        "batch_boosted": " UNION ALL ".join(
            f"SELECT '{qid}' AS qid, doc_id, score FROM ({sql})"
            for qid, sql in [
                ("g", _bm25_sql(["spark", "join", "fast"], "OR",
                                boost_mult=(
                                    f"exp(-({_DECAY_DIST_SQL} * "
                                    f"{_DECAY_DIST_SQL}) / (2 * "
                                    f"{_DECAY_SIGMA2!r}))"))),
                ("plain", _bm25_sql(["spark", "join", "fast"], "OR")),
                ("s", _bm25_sql(["spark", "join", "fast"], "OR",
                                boost_add=(
                                    f"0.5 * exp(-({_DECAY_DIST_SQL} * "
                                    f"{_DECAY_DIST_SQL}) / (2 * "
                                    f"{_DECAY_SIGMA2!r}))"))),
            ]),
        "batch_snippets": _batch_snippets_sql(10, 3),
        "match_count": f"""
            WITH toks AS ({toks_cte})
            SELECT count(*)::BIGINT AS n_docs FROM (
              SELECT DISTINCT doc_id FROM toks
              WHERE term IN ('join', 'spark')
                AND doc_id NOT IN (SELECT doc_id FROM toks
                                   WHERE term = 'hash'))""",
        "match_cardinality": f"""
            WITH toks AS ({toks_cte})
            SELECT count(DISTINCT d.source)::BIGINT AS n_values
            FROM documents d
            WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM toks
                               WHERE term IN ('join', 'spark'))""",
        "bm25_explain": f"""
            WITH dl AS (
              SELECT doc_id, len({_TOK_SQL}) AS dl FROM documents
            ),
            stats AS (
              SELECT count(*)::DOUBLE AS n FROM dl
            ),
            toks AS (
              SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
              WHERE term IN ('spark', 'join', 'fast')
              GROUP BY doc_id, term
            ),
            dfreq AS (
              SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
            )
            SELECT tf.term,
                   1::BIGINT AS qtf,
                   tf.tf,
                   dl.dl::BIGINT AS dl,
                   dfreq.df,
                   round(ln(1.0 + (s.n - dfreq.df + 0.5)
                            / (dfreq.df + 0.5)), 6) AS idf,
                   round(ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                         * (tf.tf * ({_K1} + 1.0))
                         / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl /
                            (SELECT avg(dl)::DOUBLE FROM dl))), 6)
                       AS contribution
            FROM tf
            JOIN dfreq USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats s
            WHERE tf.doc_id = 1""",
        "match_stats_ts": f"""
            WITH m AS (
              SELECT doc_id,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE list_has_all({_TOK_SQL}, ['join', 'spark']))
            SELECT count(*)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_with_value,
                   round(min(s)::DOUBLE, 6) AS min_val,
                   round(max(s)::DOUBLE, 6) AS max_val,
                   round(sum(s)::DOUBLE, 6) AS sum_val,
                   round(sum(s)::DOUBLE / count(*), 6) AS avg_val
            FROM m""",
        "match_ranges_ts": _match_ranges_sql(
            "spark", [_TS_EPOCH0 + d * 86400 for d in (45, 90, 135)]),
        # composite-agg page 2 via after-key == the ordered bucket
        # list's rows 4..6: LIMIT 3 OFFSET 3 (engine cursor must land
        # exactly there — disjoint, complete pagination)
        # auto_date_histogram twin: the frozen ladder pick (smallest
        # grain with (mx//i)-(mn//i)+1 <= target, else the largest)
        # over the match set's min/max, then the floor histogram
        "auto_histogram": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
            ),
            matched AS (
              SELECT DISTINCT doc_id FROM toks
              WHERE term IN ('join', 'spark')
            ),
            d AS (
              SELECT ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM matched
            ),
            st AS (SELECT min(s) AS mn, max(s) AS mx FROM d),
            iv AS (SELECT coalesce(
                     (SELECT i FROM (VALUES (1),(5),(10),(30),(60),(300),
                        (600),(1800),(3600),(10800),(43200),(86400),
                        (604800),(2592000),(7776000),(31536000)) L(i),
                        st
                      WHERE (mx // i) - (mn // i) + 1 <= 7
                      ORDER BY i LIMIT 1),
                     31536000)::BIGINT AS i)
            SELECT (s // i) * i AS bucket_start,
                   count(*)::BIGINT AS n_docs, i AS interval_s
            FROM d, iv GROUP BY 1, 3 ORDER BY 1""",
        # fuzzy-facets twin: whole-vocab levenshtein expansion under the
        # frozen cap, then facet counts over docs matching ANY expansion
        "facets_fuzzy": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
            ),
            tfq AS (SELECT DISTINCT doc_id, term FROM toks),
            dfreq AS (
              SELECT term, count(*) AS df FROM tfq GROUP BY term
            ),
            exp AS (
              SELECT term FROM (
                SELECT term, df, levenshtein(term, 'sprk') AS dist
                FROM dfreq
              ) WHERE dist <= 1
              ORDER BY dist ASC, df DESC, term ASC LIMIT 64
            ),
            matched AS (
              SELECT DISTINCT doc_id FROM tfq JOIN exp USING (term)
            )
            SELECT 'lang' AS facet_field, d.lang AS facet_value,
                   count(*)::BIGINT AS n_docs
            FROM documents d JOIN matched USING (doc_id)
            GROUP BY d.lang
            ORDER BY n_docs DESC, facet_field ASC, facet_value ASC""",
        # adjacency-matrix twin: pairwise conditional counts over the
        # match set (a <= b, zero pairs dropped, (a, b) ascending)
        "match_adjacency": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
            ),
            matched AS (
              SELECT DISTINCT doc_id FROM toks
              WHERE term IN ('join', 'spark')
            ),
            d AS (
              SELECT (lang = 'en') AS f_en,
                     (source LIKE 'src1%') AS f_web,
                     (({_TS_EPOCH0} + (m.doc_id % 180) * 86400)
                      < {_TS_EPOCH0 + 90 * 86400}) AS f_early
              FROM documents JOIN matched m USING (doc_id)
            )
            SELECT a, b, n_docs FROM (
              SELECT 'early' AS a, 'early' AS b,
                     coalesce(sum(CASE WHEN f_early THEN 1 END), 0)
                     ::BIGINT AS n_docs FROM d
              UNION ALL SELECT 'early', 'en', coalesce(sum(CASE WHEN
                f_early AND f_en THEN 1 END), 0)::BIGINT FROM d
              UNION ALL SELECT 'early', 'web', coalesce(sum(CASE WHEN
                f_early AND f_web THEN 1 END), 0)::BIGINT FROM d
              UNION ALL SELECT 'en', 'en', coalesce(sum(CASE WHEN
                f_en THEN 1 END), 0)::BIGINT FROM d
              UNION ALL SELECT 'en', 'web', coalesce(sum(CASE WHEN
                f_en AND f_web THEN 1 END), 0)::BIGINT FROM d
              UNION ALL SELECT 'web', 'web', coalesce(sum(CASE WHEN
                f_web THEN 1 END), 0)::BIGINT FROM d
            ) WHERE n_docs > 0 ORDER BY a, b""",
        # filters-agg twin: per-name conditional counts over the match
        # set (ts recomputed arithmetically — the corpus's synthetic
        # recency rule), zero-count buckets kept, name-ascending
        "match_filters": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
            ),
            matched AS (
              SELECT DISTINCT doc_id FROM toks
              WHERE term IN ('join', 'spark')
            ),
            d AS (
              SELECT m.doc_id, lang, source,
                     ({_TS_EPOCH0} + (m.doc_id % 180) * 86400)::BIGINT AS s
              FROM documents JOIN matched m USING (doc_id)
            )
            SELECT bucket, n_docs FROM (
              SELECT 'early' AS bucket, coalesce(sum(CASE WHEN
                s < {_TS_EPOCH0 + 90 * 86400} THEN 1 END), 0)::BIGINT
                AS n_docs FROM d
              UNION ALL
              SELECT 'en', coalesce(sum(CASE WHEN lang = 'en'
                THEN 1 END), 0)::BIGINT FROM d
              UNION ALL
              SELECT 'none', coalesce(sum(CASE WHEN lang = 'zz'
                THEN 1 END), 0)::BIGINT FROM d
              UNION ALL
              SELECT 'web', coalesce(sum(CASE WHEN source LIKE 'src1%'
                THEN 1 END), 0)::BIGINT FROM d
            ) ORDER BY bucket""",
        "match_composite_page": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
            ),
            matched AS (
              SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'
            ),
            b AS (
              SELECT lang, source, count(*)::BIGINT AS n_docs
              FROM documents d JOIN matched USING (doc_id)
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY lang, source
            )
            SELECT lang, source, n_docs FROM b
            ORDER BY lang, source LIMIT 3 OFFSET 3""",
        "facet_stats_lang": f"""
            WITH m AS (
              SELECT doc_id, lang,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE len(list_intersect({_TOK_SQL}, ['spark'])) > 0)
            SELECT lang AS facet_value, count(*)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_with_value,
                   round(min(s)::DOUBLE, 6) AS min_val,
                   round(max(s)::DOUBLE, 6) AS max_val,
                   round(sum(s)::DOUBLE, 6) AS sum_val,
                   round(sum(s)::DOUBLE / count(*), 6) AS avg_val
            FROM m GROUP BY lang
            ORDER BY n_docs DESC, facet_value ASC""",
        "match_histogram": f"""
            WITH m AS (
              SELECT doc_id,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE len(list_intersect({_TOK_SQL},
                                       ['join', 'spark'])) > 0)
            SELECT (s // {30 * 86400}) * {30 * 86400} AS bucket_start,
                   count(*)::BIGINT AS n_docs
            FROM m GROUP BY 1 ORDER BY 1""",
        "histogram_pipeline": f"""
            WITH m AS (
              SELECT doc_id,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE len(list_intersect({_TOK_SQL},
                                       ['join', 'spark'])) > 0),
            h AS (
              SELECT (s // {7 * 86400}) * {7 * 86400} AS b,
                     count(*)::BIGINT AS n
              FROM m GROUP BY 1),
            g AS (
              SELECT unnest(generate_series((SELECT min(b) FROM h),
                                            (SELECT max(b) FROM h),
                                            {7 * 86400})) AS bucket_start),
            d AS (
              SELECT g.bucket_start,
                     coalesce(h.n, 0)::BIGINT AS n_docs
              FROM g LEFT JOIN h ON h.b = g.bucket_start)
            SELECT bucket_start, n_docs,
                   (sum(n_docs) OVER (ORDER BY bucket_start))::BIGINT
                     AS cum_docs,
                   (n_docs - lag(n_docs) OVER (ORDER BY bucket_start))
                     ::BIGINT AS delta_docs
            FROM d ORDER BY bucket_start""",
        # missing-agg twin: src_opt reconstructed arithmetically (NULL
        # on every 7th doc), unknown = NULL (no absent-row case in the
        # batch corpus — every doc has a dv row)
        "match_missing": f"""
            WITH m AS (
              SELECT doc_id FROM documents
              WHERE len(list_intersect({_TOK_SQL},
                                       ['join', 'spark'])) > 0)
            SELECT count(*)::BIGINT AS n_docs,
                   coalesce(sum(CASE WHEN doc_id % 7 = 0 THEN 1 END), 0)
                     ::BIGINT AS n_missing
            FROM m""",
        # string_stats twin: code-point lengths (DuckDB length ==
        # Python len) + character-distribution Shannon entropy
        "string_stats": f"""
            WITH m AS (
              SELECT doc_id, source FROM documents
              WHERE len(list_intersect({_TOK_SQL},
                                       ['join', 'spark'])) > 0),
            lens AS (
              SELECT count(*)::BIGINT AS n_docs,
                     count(source)::BIGINT AS n_with_value,
                     min(length(source))::BIGINT AS min_len,
                     max(length(source))::BIGINT AS max_len,
                     round(sum(length(source))::DOUBLE / count(source),
                           6) AS avg_len
              FROM m),
            cc AS (
              SELECT ch, count(*)::DOUBLE AS c,
                     sum(count(*)) OVER ()::DOUBLE AS t
              FROM (SELECT unnest(string_split(source, '')) AS ch
                    FROM m WHERE source IS NOT NULL)
              GROUP BY ch),
            e AS (
              SELECT round(coalesce(sum(-(c/t)*log2(c/t)), 0), 6)
                       AS entropy
              FROM cc)
            SELECT n_docs, n_with_value, min_len, max_len, avg_len,
                   entropy
            FROM lens, e""",
        # bucket_selector twin: the pipeline CTE chain + the LITERAL
        # same predicate string over the dense bucket columns
        "histogram_having": f"""
            WITH m AS (
              SELECT doc_id,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE len(list_intersect({_TOK_SQL},
                                       ['join', 'spark'])) > 0),
            h AS (
              SELECT (s // {7 * 86400}) * {7 * 86400} AS b,
                     count(*)::BIGINT AS n
              FROM m GROUP BY 1),
            g AS (
              SELECT unnest(generate_series((SELECT min(b) FROM h),
                                            (SELECT max(b) FROM h),
                                            {7 * 86400})) AS bucket_start),
            d AS (
              SELECT g.bucket_start,
                     coalesce(h.n, 0)::BIGINT AS n_docs
              FROM g LEFT JOIN h ON h.b = g.bucket_start),
            p AS (
              SELECT bucket_start, n_docs,
                     (sum(n_docs) OVER (ORDER BY bucket_start))::BIGINT
                       AS cum_docs,
                     (n_docs - lag(n_docs) OVER (ORDER BY bucket_start))
                       ::BIGINT AS delta_docs
              FROM d)
            SELECT bucket_start, n_docs, cum_docs, delta_docs FROM p
            WHERE delta_docs > 0 ORDER BY bucket_start""",
        # bucket_sort twin: non-empty parent buckets, n_docs desc with
        # the bucket_start tiebreak, top 3
        "histogram_top": f"""
            WITH m AS (
              SELECT doc_id,
                     ({_TS_EPOCH0} + (doc_id % 180) * 86400)::BIGINT AS s
              FROM documents
              WHERE len(list_intersect({_TOK_SQL},
                                       ['join', 'spark'])) > 0)
            SELECT (s // {30 * 86400}) * {30 * 86400} AS bucket_start,
                   count(*)::BIGINT AS n_docs
            FROM m GROUP BY 1
            ORDER BY n_docs DESC, bucket_start ASC LIMIT 3""",
        "more_like_this": _mlt_sql(3, 8, 10),
        # tombstoned (not yet purged): candidates restricted, stats global
        "bm25_deleted": _bm25_sql(["vector", "window", "merge"], "OR",
                                  where="lang <> 'en'"),
        # purged: stats recomputed over the surviving corpus alone
        "bm25_purged": _bm25_sql(["spark", "hash", "fast"], "OR",
                                 corpus_where="lang <> 'en'"),
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM events GROUP BY 1, 2""",
        # streaming twin: Spark's unified semantics make the complete-
        # mode availableNow stream equal the batch tumbling-window agg
        "streaming_windowed": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2""",
        "user_sessions": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM o)
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid""",
    }
