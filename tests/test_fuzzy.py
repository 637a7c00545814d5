"""Fuzzy (edit-distance) search: SymSpell deletion-neighborhood layout +
frozen expansion rule (engine/fuzzy.py, SURVEY §2 beyond-spec, round 4).

Oracle: brute-force Levenshtein over the pure-Python index's WHOLE
vocabulary with the same frozen cap (distance ASC, df DESC, term ASC) —
the engine's indexed deletion-variant lookup must reproduce it exactly
(candidate completeness is the SymSpell theorem; a generation bug on
either side surfaces as a rank mismatch here and as a DuckDB gate
mismatch externally). Coverage: Spark-vs-Python variant-generation
parity (seeded random strings), levenshtein_py vs DuckDB's built-in,
expansion identity vs brute force at d=1/d=2, binding cap, rank
identity of search_fuzzy vs the oracle expansion, NOT/exclude +
dv-independent composition, batch FUZZY entries, depth/arg validation,
enable_fuzzy retrofit, memoization + refresh, and neighborhood
regeneration on compact (vocab growth).
"""

import random

import pytest

from engine import query as Q
from engine.fuzzy import (deletion_variants_py, enable_fuzzy, expand_fuzzy,
                          fuzzy_path, levenshtein_py, variants_sql)


@pytest.fixture(scope="module")
def fz_index(spark, corpus_df, tmp_path_factory):
    from engine.build import build_index
    from engine.config import IndexConfig
    d = str(tmp_path_factory.mktemp("fz_idx"))
    return build_index(spark, corpus_df, d, IndexConfig(fuzzy_edits=2))


def _vocab(oracle_idx):
    return {t: len(p) for t, p in oracle_idx.postings.items()}


def _oracle_expand(oracle_idx, term, d, cap=10**9):
    """Brute-force frozen expansion over the whole vocabulary."""
    cand = [(levenshtein_py(term, t), -df, t)
            for t, df in _vocab(oracle_idx).items()]
    cand = sorted(c for c in cand if c[0] <= d)
    return [t for _, _, t in cand[:cap]]


def _oracle_fuzzy_topk(oracle_idx, term, d, k=10, cap=50, exclude=None):
    terms = _oracle_expand(oracle_idx, term, d, cap)
    if not terms:
        return []
    ranked = oracle_idx.search(" ".join(terms), k=len(oracle_idx.dl))
    if exclude:
        negs = set(exclude) - set(terms)
        drop = {dd for t in negs for dd, _ in oracle_idx.postings.get(t, ())}
        ranked = [(dd, s) for dd, s in ranked if dd not in drop]
    return ranked[:k]


# ---- the two variant generators must agree exactly (completeness) ----

def test_variants_sql_matches_python(spark):
    rng = random.Random(421)
    words = [""] + ["".join(rng.choice("abc01") for _ in range(rng.randint(1, 9)))
                    for _ in range(60)]
    for d in (1, 2):
        df = spark.createDataFrame([(w,) for w in words], "term string")
        got = {r["term"]: sorted(r["v"]) for r in df.selectExpr(
            "term", f"{variants_sql('term', d)} AS v").collect()}
        for w in words:
            assert got[w] == sorted(deletion_variants_py(w, d)), (w, d)


def test_levenshtein_matches_duckdb():
    import duckdb
    rng = random.Random(77)
    pairs = [("".join(rng.choice("abcd1") for _ in range(rng.randint(0, 8))),
              "".join(rng.choice("abcd1") for _ in range(rng.randint(0, 8))))
             for _ in range(200)]
    con = duckdb.connect()
    for a, b in pairs:
        want = con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert levenshtein_py(a, b) == want, (a, b)


def test_symspell_candidate_completeness(fz_index, oracle_idx):
    """Every vocab term within d of the query MUST be found through the
    deletion-variant intersection — for several seeds, at d=1 and d=2."""
    for seed in ("hot0", "rare3", "w10", "spar", "hot"):
        for d in (1, 2):
            got = [r["term"] for r in expand_fuzzy(fz_index, seed, d, 10**6)]
            want = _oracle_expand(oracle_idx, seed, d)
            assert got == want, (seed, d)


def test_expansion_binding_cap(fz_index, oracle_idx):
    full = [r["term"] for r in expand_fuzzy(fz_index, "w10", 2, 10**6)]
    assert len(full) > 3  # the cap below must BIND
    capped = [r["term"] for r in expand_fuzzy(fz_index, "w10", 2, 3)]
    assert capped == _oracle_expand(oracle_idx, "w10", 2, 3) == full[:3]


@pytest.mark.parametrize("term,d", [("hot0", 1), ("rare3", 1),
                                    ("w10", 2), ("rare3", 2)])
def test_fuzzy_rank_identity(fz_index, oracle_idx, term, d):
    got = [(r.doc_id, r.score)
           for r in Q.search_fuzzy(fz_index, term, k=10,
                                   max_edits=d).collect()]
    want = _oracle_fuzzy_topk(oracle_idx, term, d, k=10)
    assert [dd for dd, _ in got] == [dd for dd, _ in want]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def test_fuzzy_exclude(fz_index, oracle_idx):
    got = [(r.doc_id, r.score)
           for r in Q.search_fuzzy(fz_index, "rare3", k=10, max_edits=1,
                                   exclude="hot0").collect()]
    want = _oracle_fuzzy_topk(oracle_idx, "rare3", 1, k=10,
                              exclude=["hot0"])
    assert [dd for dd, _ in got] == [dd for dd, _ in want]


def test_fuzzy_batch_entry_matches_single(fz_index):
    single = [tuple(r) for r in
              Q.search_fuzzy(fz_index, "w10", k=10, max_edits=2,
                             max_expansions=5).collect()]
    batch = Q.search_batch(fz_index, [
        {"id": "f1", "query": "w10", "mode": "FUZZY", "max_edits": 2,
         "max_expansions": 5},
        {"id": "b1", "query": "hot0 rare3", "mode": "OR"},
    ], k=10)
    got = [(r.doc_id, r.score) for r in batch.collect() if r.qid == "f1"]
    assert sorted(got, key=lambda x: (-x[1], x[0])) == single


def test_fuzzy_no_match_is_local_relation(fz_index):
    df = Q.search_fuzzy(fz_index, "zzzzqqq9", max_edits=1)
    assert df.count() == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FileScan" not in plan


def test_fuzzy_depth_and_arg_validation(spark, corpus_df, fz_index,
                                        tmp_path_factory):
    from engine.build import build_index
    with pytest.raises(ValueError):
        Q.search_fuzzy(fz_index, "hot0", max_edits=3)  # > built depth
    with pytest.raises(ValueError):
        expand_fuzzy(fz_index, "hot0", 0)
    with pytest.raises(ValueError):
        Q.search_fuzzy(fz_index, "a b")  # not one token
    plain = build_index(spark, corpus_df,
                        str(tmp_path_factory.mktemp("nofz")))
    with pytest.raises(ValueError, match="fuzzy_edits"):
        Q.search_fuzzy(plain, "hot0")


def test_enable_fuzzy_retrofit(spark, corpus_df, oracle_idx,
                               tmp_path_factory):
    """An index built WITHOUT fuzzy gains it via enable_fuzzy (one
    vocab-scaled job; no rebuild) and reloads with the layout."""
    from engine.build import build_index, load_index
    d = str(tmp_path_factory.mktemp("fz_retro"))
    idx = build_index(spark, corpus_df, d)
    assert idx.fuzzy_edits == 0
    enable_fuzzy(idx, 1)
    assert idx.fuzzy_edits == 1
    got = [r["term"] for r in expand_fuzzy(idx, "hot0", 1, 10**6)]
    assert got == _oracle_expand(oracle_idx, "hot0", 1)
    assert load_index(spark, d).fuzzy_edits == 1


def test_fuzzy_memoized_and_refresh(fz_index):
    fz_index.refresh()
    rows = expand_fuzzy(fz_index, "hot0", 1, 10)
    assert rows is expand_fuzzy(fz_index, "hot0", 1, 10)
    assert fz_index._fuzzy_cache
    fz_index.refresh()
    assert fz_index._fuzzy_cache == {}


def test_fuzzy_scan_is_pruned(fz_index):
    """The variant-table read prunes to the query variants' fbucket
    partitions (PartitionFilters) with the variant list pushed down."""
    from pyspark.sql import functions as F
    from engine.xxh import xxh64
    variants = deletion_variants_py("hot0", 1)
    nb = int(fz_index.n_buckets)
    fb = sorted({xxh64(v.encode()) % nb for v in variants})
    assert len(fb) < nb  # the pruning is non-vacuous
    scan = (fz_index.spark.read.parquet(fuzzy_path(fz_index.index_dir))
            .filter(F.col("fbucket").isin(fb)
                    & F.col("variant").isin(variants)).select("term"))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "fbucket" in plan.split("PartitionFilters", 1)[1].split("]")[0]
    pushed = plan.split("PushedFilters", 1)[1].split("]")[0]
    assert "variant" in pushed


def test_compact_regenerates_neighborhood(spark, tmp_path_factory):
    """After a streaming append introduces NEW vocabulary, compact()
    rebuilds the deletion neighborhood — fuzzy finds the new terms."""
    from engine.build import build_index
    from engine.config import IndexConfig
    from engine.fixtures import spark_transcripts
    from engine.streaming import append_batch, compact
    d = str(tmp_path_factory.mktemp("fz_stream"))
    base = spark_transcripts(spark, n_convs=40, n_parts=2)
    cfg = IndexConfig(fuzzy_edits=1)
    build_index(spark, base, d, cfg)
    from pyspark.sql import functions as F
    batch = (spark_transcripts(spark, n_convs=3, n_parts=1)
             .withColumn("text", F.lit("zebrafish zebrafish gallop"))
             .withColumn("conv_id", F.concat(F.lit("new-"), F.col("conv_id"))))
    n_new = batch.count()  # one doc per TURN
    append_batch(spark, batch, d, cfg)
    idx = compact(spark, d, cfg)
    assert idx.fuzzy_edits == 1
    got = [r["term"] for r in expand_fuzzy(idx, "zebrafis", 1, 10)]
    assert got == ["zebrafish"]
    top = Q.search_fuzzy(idx, "zebrafis", k=n_new + 5, max_edits=1).collect()
    assert len(top) == n_new  # every appended doc (and nothing else)


# ---- did-you-mean suggester (suggest_terms) --------------------------


def _oracle_suggest(oracle_idx, query, d, n):
    import re
    rows = []
    for t in sorted(set(re.findall(r"[a-z0-9]+", query.lower()))):
        cand = sorted((levenshtein_py(t, v), -df, v)
                      for v, df in _vocab(oracle_idx).items()
                      if levenshtein_py(t, v) <= d)
        for i, (dist, negdf, v) in enumerate(cand[:n], start=1):
            rows.append((t, i, v, dist, -negdf))
    return rows


@pytest.mark.parametrize("query,d,n", [
    ("sprk sow", 2, 3),       # mixed distances, multi-candidate
    ("hot0 w3", 1, 3),        # in-vocab tokens suggest themselves first
    ("zzzzzz", 2, 3),         # nothing in radius -> empty
    ("sow", 1, 1),            # binding cap n=1
])
def test_suggest_matches_bruteforce(fz_index, oracle_idx, query, d, n):
    from engine.fuzzy import suggest_terms
    got = [tuple(r) for r in
           suggest_terms(fz_index, query, max_edits=d, n=n).collect()]
    assert got == _oracle_suggest(oracle_idx, query, d, n)


def test_suggest_empty_is_local_relation(fz_index):
    from engine.fuzzy import suggest_terms
    df = suggest_terms(fz_index, "qqqqqqqq", max_edits=1, n=3)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FileScan" not in plan  # no corpus/lexicon scan scheduled
    assert df.collect() == []


def test_suggest_in_vocab_token_is_pos1_dist0(fz_index, oracle_idx):
    from engine.fuzzy import suggest_terms
    term = sorted(_vocab(oracle_idx))[0]
    rows = suggest_terms(fz_index, term, max_edits=1, n=3).collect()
    assert rows and rows[0]["pos"] == 1 and rows[0]["dist"] == 0 \
        and rows[0]["suggestion"] == term


# ---- phrase (whole-query) suggester --------------------------------


def _oracle_phrase(oracle_idx, query, d, n, per_term):
    """Brute-force frozen recompute: per-token capped expansion with
    (dist, df) -> cartesian product -> frozen unigram score."""
    import itertools
    import math
    import re
    from engine.config import TOKEN_PATTERN
    from engine.fuzzy import PHRASE_EDIT_PENALTY
    vocab = _vocab(oracle_idx)
    n_corpus = len(oracle_idx.dl)
    toks = re.findall(TOKEN_PATTERN, query.lower())
    slots = []
    for t in toks:
        cand = sorted((levenshtein_py(t, v), -df, v)
                      for v, df in vocab.items()
                      if levenshtein_py(t, v) <= d)[:per_term]
        slots.append([(v, dist, -negdf) for dist, negdf, v in cand]
                     or [(t, 0, 0)])
    scored = []
    for combo in itertools.product(*slots):
        phrase = " ".join(c[0] for c in combo)
        edits = sum(c[1] for c in combo)
        score = sum(math.log((c[2] + 1) / (n_corpus + 1))
                    for c in combo) - PHRASE_EDIT_PENALTY * edits
        scored.append((phrase, edits, score))
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:n]


@pytest.mark.parametrize("query,d", [("hot0 mid1", 1), ("hor0 mid1", 1),
                                     ("hot9 rarr3", 2)])
def test_suggest_phrase_matches_bruteforce(fz_index, oracle_idx, query, d):
    from engine.fuzzy import suggest_phrase
    got = [(r.phrase, r.n_edits, r.score) for r in
           suggest_phrase(fz_index, query, max_edits=d, n=4,
                          per_term=3).collect()]
    want = _oracle_phrase(oracle_idx, query, d, 4, 3)
    assert [(p, e) for p, e, _ in got] == [(p, e) for p, e, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-12


def test_suggest_phrase_identity_wins_when_all_in_vocab(fz_index):
    # an all-in-vocab query with common terms: the zero-edit identity
    # phrase must rank first (every alternative pays the edit penalty)
    from engine.fuzzy import suggest_phrase
    rows = suggest_phrase(fz_index, "hot0 hot1", max_edits=1,
                          n=3).collect()
    assert rows[0].phrase == "hot0 hot1" and rows[0].n_edits == 0


def test_suggest_phrase_oov_token_rides_verbatim(fz_index):
    from engine.fuzzy import suggest_phrase
    rows = suggest_phrase(fz_index, "qqqqqqqq hot0", max_edits=1,
                          n=2).collect()
    assert all(r.phrase.startswith("qqqqqqqq ") for r in rows)


def test_suggest_phrase_validation(fz_index):
    from engine.fuzzy import suggest_phrase
    with pytest.raises(ValueError, match="8 tokens"):
        suggest_phrase(fz_index, "a b c d e f g h i")
    with pytest.raises(ValueError, match="per_term"):
        suggest_phrase(fz_index, "hot0", per_term=0)
    assert suggest_phrase(fz_index, "").collect() == []


def test_expansion_complete_when_buckets_not_power_of_two(spark, tmp_path):
    """The query-side fbucket prune must use the writer's signed
    pmod(xxhash64(v), nb): an unsigned modulus agrees with it only when
    n_buckets is a power of two, and at 12 buckets most deletion
    variants of these words sit in another dir, so candidates went
    missing without an error. The expansion must equal a Levenshtein
    scan of the whole vocabulary."""
    from engine.build import build_index
    from engine.config import IndexConfig
    words = {"hello": ["hello", "hell", "hallo", "jello", "hellos", "helo",
                       "yello", "cello"],
             "search": ["search", "serch", "searches", "starch", "sear",
                        "searcn", "seach", "reach"],
             "engine": ["engine", "engines", "engin", "engind", "ingine",
                        "engie", "enzine"],
             "query": ["query", "queri", "quary", "querys", "quer",
                       "equery", "guery"]}
    vocab = sorted({w for ws in words.values() for w in ws})
    rows = [(f"c{i:03d}", j, " ".join(vocab[(i + j) % len(vocab):]
                                      + vocab[:j]))
            for i in range(8) for j in range(3)]
    corpus = spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                         "text string")
    idx = build_index(spark, corpus, str(tmp_path / "nb12"),
                      IndexConfig(n_buckets=12, fuzzy_edits=1))
    for q in words:
        got = {c["term"] for c in expand_fuzzy(idx, q, 1, 10**6)}
        want = {t for t in vocab if levenshtein_py(q, t) <= 1}
        assert got == want, q
