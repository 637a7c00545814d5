"""Fuzzy term matching: an edit-distance companion index over the
vocabulary (the SymSpell deletion-neighborhood layout) plus the frozen
query-time expansion rule ``search_fuzzy`` builds on.

Why an INDEXED layout (the 100 TB argument): matching "terms within
Levenshtein distance d of q" by scanning the lexicon with a distance
predicate touches the WHOLE vocabulary per query — at web scale the
vocabulary is itself large (hundreds of millions of terms across
languages/typos/ids), and no parquet statistic prunes a distance
predicate. The deletion-neighborhood trick (public SymSpell algorithm;
also the basis of the FastSS paper) makes the lookup associative: for
plain Levenshtein distance,

    lev(q, t) <= d  =>  Del<=d(q) ∩ Del<=d(t) != ∅

where ``Del<=d(s)`` is the set of strings reachable from ``s`` by at
most d character DELETIONS. So we store, once per index build, every
(variant, term) pair with ``variant ∈ Del<=d(term)`` — a VOCAB-scaled
table (|vocab| x ~(L choose d) rows; ~L+1 per term at d=1) hash-bucket
partitioned on the variant — and a query becomes: generate the <= few
dozen deletion variants of q driver-side, scan ONLY the variant's hash
buckets with the variant list pushed down (partition pruning +
predicate pushdown, exactly like the postings scan), and VERIFY the
candidate terms with a real Levenshtein DP driver-side (candidates are
metadata-sized; the intersection test over-generates but never misses).

Frozen expansion semantics (mirrored by the DuckDB oracle twin, which
uses its built-in ``levenshtein`` over the whole vocab — checking the
SEMANTICS, not the mechanism, so a completeness bug in the deletion
trick would surface as a gate mismatch):

* candidates = stored vocabulary terms t with ``lev(q, t) <= max_edits``
  (plain Levenshtein: unit-cost insert/delete/substitute, NO transpose —
  the variant table is complete for this metric, and DuckDB's
  ``levenshtein`` computes the same one);
* the query term is normalized like a wildcard prefix (lowercase, one
  [a-z0-9]+ token); analyzer hooks do NOT rewrite it — fuzzy matches the
  STORED vocabulary verbatim (the standard multi-term-query rule);
* deterministic cap: (distance ASC, df DESC, term ASC), first
  ``max_expansions`` survive — closest first, then the cap rule every
  other expansion surface uses (ORDER BY levenshtein(term, q), df DESC,
  term LIMIT n in the twin);
* the surviving terms score as a standard BM25 OR query with query-term
  weight 1 per matched term, each term keeping its OWN corpus-global
  idf — identical to typing the expansion out (the same frozen rule as
  search_prefix / more_like_this).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

FUZZY_DIRNAME = "fuzzy"


def fuzzy_path(index_dir: str) -> str:
    return os.path.join(index_dir, FUZZY_DIRNAME)


# --------------------------------------------------------------------------
# deletion-variant generation — one Spark-SQL form (build time, runs over
# the whole vocabulary JVM-side) and one Python form (query time, runs over
# the single query term). Candidate completeness REQUIRES the two to agree
# exactly; tests/test_fuzzy.py property-tests them against each other.
# --------------------------------------------------------------------------

def _del1_sql(col: str) -> str:
    """Spark-SQL expression: all single-character deletions of ``col``
    (array<string>; empty array for the empty string — NB sequence(1,0)
    would count DOWN, hence the length guard)."""
    return (f"CASE WHEN length({col}) <= 0 THEN array() "
            f"ELSE transform(sequence(1, length({col})), i -> "
            f"concat(substring({col}, 1, i-1), substring({col}, i+1))) END")


def variants_sql(col: str, max_edits: int) -> str:
    """Spark-SQL expression: array of ALL distinct deletion variants of
    ``col`` with 0..max_edits characters removed (includes the term
    itself). Built by ``max_edits`` rounds of single-deletion expansion —
    pure JVM expression tree, no Python in the build path."""
    acc = f"array({col})"
    for _ in range(int(max_edits)):
        acc = (f"array_distinct(concat({acc}, "
               f"flatten(transform({acc}, v -> {_del1_sql('v')}))))")
    return acc


def deletion_variants_py(term: str, max_edits: int) -> list[str]:
    """Driver-side twin of ``variants_sql`` (query-term side of the
    intersection). Returns the distinct deletion variants of ``term``
    with 0..max_edits deletions, in first-seen order."""
    out: dict[str, None] = {term: None}
    frontier = [term]
    for _ in range(int(max_edits)):
        nxt = []
        for v in frontier:
            for i in range(len(v)):
                w = v[:i] + v[i + 1:]
                if w not in out:
                    out[w] = None
                    nxt.append(w)
        frontier = nxt
    return list(out)


def levenshtein_py(a: str, b: str) -> int:
    """Plain Levenshtein distance (unit-cost insert/delete/substitute, no
    transposition) — the verify step over metadata-sized candidate sets,
    and the exact metric DuckDB's ``levenshtein`` implements (the oracle
    twin depends on this equivalence; property-tested)."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def write_fuzzy_variants(spark: SparkSession, index_dir: str,
                         n_buckets: int, max_edits: int) -> None:
    """Build (or REbuild) the deletion-neighborhood table from the
    index's just-written lexicon: one row per (variant, term) pair with
    ``variant ∈ Del<=max_edits(term)``, hash-bucket partitioned on the
    variant with the SAME xxhash64 bucketing as the postings layout (the
    driver-side twin engine/xxh.py prunes the query scan jobless-ly).

    Vocab-scaled, not corpus-scaled: |lexicon| x ~(L+1) rows at d=1.
    Variant generation is a pure Spark expression tree (variants_sql) —
    explode + one partitioned write, no shuffle beyond the write's own
    partitioning, no Python. Called wherever the lexicon is rewritten
    (build_index, streaming.compact, deletes.purge_deletes) so the
    neighborhood can never drift from the vocabulary it indexes."""
    # text-space only: field-prefixed terms ("role:user") are not fuzzy
    # candidates for text queries (query tokens can never contain ':')
    lex = (spark.read.parquet(os.path.join(index_dir, "lexicon"))
           .filter(~F.col("term").contains(":")))
    out = fuzzy_path(index_dir)
    (lex.select("term", "df",
                F.explode(F.expr(variants_sql("term", max_edits)))
                .alias("variant"))
        .withColumn("fbucket",
                    F.pmod(F.xxhash64(F.col("variant")),
                           F.lit(int(n_buckets))).cast("int"))
        .write.partitionBy("fbucket").mode("overwrite").parquet(out))


def enable_fuzzy(index, max_edits: int = 1):
    """Retrofit the fuzzy layout onto an EXISTING index (no rebuild:
    the neighborhood derives from the lexicon alone, so adding fuzzy
    later costs one vocab-scaled job — the cheap path a deployment takes
    when it turns the feature on). Updates the manifest (the layout is
    part of the resolved plan from here on) and revalidates the handle.
    Returns the same handle with ``fuzzy_edits`` set."""
    from .manifest import Manifest
    if max_edits < 1:
        raise ValueError("max_edits must be >= 1")
    write_fuzzy_variants(index.spark, index.index_dir, index.n_buckets,
                         max_edits)
    man = Manifest.load(index.index_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest at {index.index_dir}")
    man.fuzzy_edits = int(max_edits)
    man.save(index.index_dir)
    index.fuzzy_edits = int(max_edits)
    index._fuzzy_cache = {}
    return index


def expand_fuzzy(index, term: str, max_edits: int = 1,
                 max_expansions: int = 50) -> list[dict]:
    """Query-time fuzzy expansion: the <= ``max_expansions`` stored
    vocabulary terms within ``max_edits`` Levenshtein of ``term``, in
    the frozen cap order (distance ASC, df DESC, term ASC). Returns
    lexicon rows [{"term", "dist", "df", "idf", "bucket", ...}].

    Plan: the term's deletion variants (driver-side, tiny) -> ONE scan
    of the variant table pruned to their fbucket partitions with the
    variant list pushed into parquet -> distinct candidate terms
    (metadata-sized collect) -> exact Levenshtein verify + frozen cap
    driver-side -> memoized lookup_terms for the survivors' idf/bucket
    (seeds the shared term memo: the downstream scoring job launches
    zero lexicon jobs). Memoized per (term, d, cap); refresh() drops it.
    """
    from .xxh import term_bucket
    if max_edits < 1:
        raise ValueError("max_edits must be >= 1")
    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    built = int(getattr(index, "fuzzy_edits", 0) or 0)
    if built <= 0:
        raise ValueError(
            "fuzzy queries require an index built with "
            "IndexConfig(fuzzy_edits=...) — the deletion-neighborhood "
            "table is a build-time layout, like positions/doc_values")
    if max_edits > built:
        raise ValueError(
            f"max_edits={max_edits} exceeds the index's built "
            f"neighborhood depth fuzzy_edits={built} (candidates beyond "
            f"the built depth would be silently incomplete; rebuild "
            f"with IndexConfig(fuzzy_edits={max_edits}))")
    cache = getattr(index, "_fuzzy_cache", None)
    if cache is None:
        cache = index._fuzzy_cache = {}
    key = (term, int(max_edits), int(max_expansions))
    if key in cache:
        return cache[key]

    variants = deletion_variants_py(term, max_edits)
    nb = int(index.n_buckets)
    # the writer's pmod(xxhash64(variant), nb) — Spark's SIGNED hash
    fbuckets = sorted({term_bucket(v, nb) for v in variants})
    spark = index.spark
    cand_rows = (spark.read.parquet(fuzzy_path(index.index_dir))
                 .filter(F.col("fbucket").isin(fbuckets)
                         & F.col("variant").isin(variants))
                 .select("term").distinct().collect())
    scored = []
    for r in cand_rows:
        d = levenshtein_py(term, r["term"])
        if d <= max_edits:
            scored.append((d, r["term"]))
    if not scored:
        cache[key] = []
        return []
    lex = index.lookup_terms(sorted(t for _, t in scored))
    ranked = sorted(((d, -int(lex[t]["df"]), t) for d, t in scored
                     if t in lex))
    out = [{"term": t, "dist": d, "df": -negdf, **{
        k: v for k, v in lex[t].items() if k != "df"}}
        for d, negdf, t in ranked[:int(max_expansions)]]
    cache[key] = out
    return out


SUGGEST_SCHEMA = ("term string, pos int, suggestion string, dist int, "
                  "sugg_df long")


def suggest_terms(index, query: str, max_edits: int = 1,
                  n: int = 3) -> "DataFrame":
    """Did-you-mean term suggester (the ES/Lucene term-suggester in
    ``suggest_mode=always``): for every token of ``query``, the top ``n``
    stored-vocabulary terms within ``max_edits`` plain Levenshtein,
    ranked by the engine's frozen multi-term cap rule — distance ASC,
    df DESC, term ASC. An in-vocabulary token therefore yields itself at
    ``pos`` 1 with ``dist`` 0 (callers wanting ES ``suggest_mode=
    missing`` drop rows where ``pos == 1 AND dist == 0``); a token with
    no candidate in radius yields no rows.

    Tokenization follows the multi-term-query rule every expansion
    surface uses (normalize_prefix / search_fuzzy): lowercase
    ``[a-z0-9]+`` tokens, analyzer hooks deliberately NOT applied —
    suggestions come from the STORED vocabulary verbatim. Tokens are
    deduplicated and emitted in ascending order; rows are
    ``(term, pos, suggestion, dist, sugg_df)`` ordered (term, pos).

    Plan (the 100 TB argument): one partition-pruned, predicate-pushed
    scan of the vocab-scaled deletion-neighborhood table per DISTINCT
    novel token (engine/fuzzy.py header; memoized via expand_fuzzy's
    per-index cache), exact-verify + cap over metadata-sized candidate
    sets driver-side, and the result is a driver-built LocalRelation —
    no corpus access at all. Requires ``IndexConfig(fuzzy_edits >=
    max_edits)``.
    """
    import re
    from .config import TOKEN_PATTERN
    toks = sorted(set(re.findall(TOKEN_PATTERN, (query or "").lower())))
    rows = []
    for t in toks:
        for i, c in enumerate(
                expand_fuzzy(index, t, max_edits, n), start=1):
            rows.append((t, i, c["term"], int(c["dist"]), int(c["df"])))
    if not rows:  # LocalRelation-backed empty result (no scheduled job)
        return (index.spark.range(0)
                .select(F.lit("").alias("term"),
                        F.lit(0).cast("int").alias("pos"),
                        F.lit("").alias("suggestion"),
                        F.lit(0).cast("int").alias("dist"),
                        F.lit(0).cast("long").alias("sugg_df")))
    return index.spark.createDataFrame(rows, SUGGEST_SCHEMA)


PHRASE_SUGGEST_SCHEMA = "phrase string, n_edits int, score double"

# frozen per-edit penalty of the phrase-suggest score (log-likelihood
# units; one edit costs as much as a ~7.4x df ratio)
PHRASE_EDIT_PENALTY = 2.0


def suggest_phrase(index, query: str, max_edits: int = 1, n: int = 3,
                   per_term: int = 3) -> "DataFrame":
    """Phrase (whole-query) suggester — the ES ``phrase`` suggester's
    candidate-generate-and-rerank shape with a FROZEN unigram score
    instead of ES's tunable smoothed LM (reproducibility is the
    contract here):

    * every query token contributes its top ``per_term`` fuzzy
      candidates (``expand_fuzzy``'s exact SymSpell expansion under the
      frozen cap rule: dist ASC, df DESC, term ASC); a token with no
      in-radius vocabulary candidate rides along verbatim with
      ``df = 0, dist = 0`` (the suggester never drops a slot);
    * candidate phrases are the cartesian product (``per_term^T``,
      bounded: at most 8 tokens and ``per_term <= 8`` — the ES
      candidate-generator caps);
    * frozen score = sum_i log((df_i + 1) / (N + 1))
      - PHRASE_EDIT_PENALTY * total_edits, N = index.n_docs; ranked
      score DESC, phrase ASC, top ``n``. The identity phrase (zero
      edits) competes like any other candidate — callers wanting only
      corrections drop ``n_edits == 0`` rows.

    Returns ``(phrase, n_edits, score)``. Driver-side throughout: the
    expansions are the memoized pruned-scan lookups expand_fuzzy
    already does, the product/rank run over <= per_term^8 tuples, and
    the result is a LocalRelation — zero corpus access."""
    import itertools
    import math
    import re

    from .config import TOKEN_PATTERN
    toks = re.findall(TOKEN_PATTERN, (query or "").lower())
    if not toks:
        return (index.spark.range(0)
                .select(F.lit("").alias("phrase"),
                        F.lit(0).cast("int").alias("n_edits"),
                        F.lit(0.0).alias("score")))
    if len(toks) > 8:
        raise ValueError(f"suggest_phrase caps at 8 tokens "
                         f"(got {len(toks)})")
    per_term = int(per_term)
    if not (1 <= per_term <= 8):
        raise ValueError("per_term must be in 1..8")
    n_corpus = int(index.n_docs)
    slots = []
    for t in toks:
        cands = [(c["term"], int(c["dist"]), int(c["df"]))
                 for c in expand_fuzzy(index, t, max_edits, per_term)]
        slots.append(cands or [(t, 0, 0)])
    prod = 1
    for sl in slots:
        prod *= len(sl)
    if prod > 65536:
        raise ValueError(
            f"suggest_phrase candidate space too large ({prod} phrases "
            f"> 65536): lower per_term or shorten the query")
    scored = []
    for combo in itertools.product(*slots):
        phrase = " ".join(c[0] for c in combo)
        edits = sum(c[1] for c in combo)
        score = sum(math.log((c[2] + 1) / (n_corpus + 1))
                    for c in combo) - PHRASE_EDIT_PENALTY * edits
        scored.append((phrase, edits, score))
    scored.sort(key=lambda r: (-r[2], r[0]))
    return index.spark.createDataFrame(scored[:int(n)],
                                       PHRASE_SUGGEST_SCHEMA)
