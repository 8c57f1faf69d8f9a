"""Driver-mimicking parity gate: every registered query with an oracle must
match DuckDB on the same parquet tables (row count + schema + values)."""

import pytest

from financedatabase_spark.plans.registry import ORACLE_SQL, QUERIES
from tests.conftest import assert_frames_match, run_parity


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_parity(spark, duck, sf_dir, name):
    # exact (bit-level) comparison — see assert_frames_match
    run_parity(spark, duck, sf_dir, name, rtol=0.0)


def test_all_queries_return_rows(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        # every query must at least run; rows may legitimately be 0 for
        # anti-join style checks, so only evaluate the plan
        df.limit(1).collect()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())


def test_minhash_lsh_finds_all_exact_dups(spark, sf_dir):
    """Deterministic LSH recall gate: documents with IDENTICAL normalized
    content have identical MinHash signatures, so every exact-dup pair
    MUST surface as an LSH candidate pair with jaccard 1.0."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.dedup_docs import exact_dedup, minhash_lsh_dedup
    from financedatabase_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    groups = exact_dedup(docs).filter(F.col("n_copies") > 1)
    n_dup_groups = groups.count()
    found = minhash_lsh_dedup(docs, threshold=0.999)
    # every multi-copy content hash contributes at least one jaccard=1 pair
    if n_dup_groups:
        assert found.count() >= n_dup_groups


def test_hot_bucket_star_bounds_pair_count(spark):
    """Adversarial mass-duplication corpus: 1000 identical docs collide on
    every band key. All-pairs would emit 1000*999/2 = 499500 candidates;
    the bucket cap must star them against the representative instead —
    exactly n-1 pairs, every one verified at jaccard 1.0 / hamming 0, and
    every duplicate doc still reachable from the kept representative."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.dedup_docs import (
        minhash_lsh_dedup,
        simhash_near_dups,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again").alias("text"),
    )

    mh = minhash_lsh_dedup(docs, threshold=0.999).collect()
    assert len(mh) == 999  # star, not clique
    assert all(r.jaccard == 1.0 for r in mh)
    assert all(r.doc1 == 0 for r in mh)  # clustered on the representative
    assert {r.doc2 for r in mh} == set(range(1, 1000))

    sh = simhash_near_dups(docs, max_hamming=3).collect()
    assert len(sh) == 999
    assert all(r.hamming == 0 for r in sh)
    assert {r.doc2 for r in sh} == set(range(1, 1000))


def test_minhash_recall_vs_exact_baseline(spark, sf_dir):
    """Banding math sanity: against the exact shingle-join Jaccard baseline
    at threshold 0.8, the 16-hash/4-band LSH must recover most true pairs
    (theory: catch prob 1-(1-s^4)^4 ≈ 0.88 at s=0.8; data and hash family
    are fixed, so the observed recall is deterministic) and must never
    emit a pair the exact baseline scores below threshold (verification
    is exact Jaccard, so precision is 1.0 by construction)."""
    from financedatabase_spark.operators.dedup_docs import (
        jaccard_pairs,
        minhash_lsh_dedup,
        shingle_table,
    )
    from financedatabase_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc1, r.doc2)
        for r in jaccard_pairs(shingle_table(docs), threshold=0.8).collect()
    }
    found = {
        (r.doc1, r.doc2)
        for r in minhash_lsh_dedup(docs, threshold=0.8).collect()
    }
    assert found <= exact  # exact-verify stage => no false positives
    if exact:
        assert len(found & exact) / len(exact) >= 0.7


def test_ivf_vectorized_equals_fold_path(spark, sf_dir):
    """The cogrouped numpy scoring path must return the same (query,
    corpus, score, rank) rows as the pure-Catalyst sequential-fold
    baseline — including when block_rows forces every cell into
    multiple hash-split sub-blocks whose per-block top-k lists merge in
    the final window."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators import similarity as sim
    from financedatabase_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")

    want = sorted(map(tuple, sim.ivf_topk(queries, corpus, k=5, vectorized=False).collect()))
    got = sorted(map(tuple, sim.ivf_topk(queries, corpus, k=5).collect()))
    assert got == want
    # tiny block size -> every cell splits; the block-merge must be lossless
    blocked = sorted(
        map(tuple, sim.ivf_topk(queries, corpus, k=5, block_rows=7).collect())
    )
    assert blocked == want

    # brute-force: the blocked single-cell path must equal the fold baseline
    bf_want = sorted(map(tuple, sim.cosine_topk(queries, corpus, k=5).collect()))
    bf_got = sorted(
        map(tuple, sim.cosine_topk(queries, corpus, k=5, vectorized=True, block_rows=37).collect())
    )
    assert bf_got == bf_want


def test_near_dups_vectorized_equals_fold_path(spark, sf_dir):
    """Block-pair cogrouped near-dup scoring must emit exactly the pair
    set (and scores) of the Catalyst pair-join baseline — including
    with block_rows small enough that every cell splits into many
    blocks (diagonal dedup + off-diagonal bipartite both exercised)."""
    from financedatabase_spark.operators import similarity as sim
    from financedatabase_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    want = sorted(
        map(tuple, sim.embedding_near_dups(emb, threshold=0.4, vectorized=False).collect())
    )
    got = sorted(map(tuple, sim.embedding_near_dups(emb, threshold=0.4).collect()))
    assert got == want and len(want) > 0
    blocked = sorted(
        map(tuple, sim.embedding_near_dups(emb, threshold=0.4, block_rows=11).collect())
    )
    assert blocked == want


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """nprobe monotonicity: visiting 2 cells can only add candidates, so
    multi-probe recall vs the brute-force top-5 must be >= single-probe
    recall for every query, and strictly positive overall. n_probe equal
    to the number of cells degenerates to the exact brute-force ranking."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators import similarity as sim
    from financedatabase_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = emb.select("label").distinct().count()
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    centroids = sim.cell_centroids(emb)

    truth = {
        (r.query_id, r.corpus_id)
        for r in sim.cosine_topk(queries, corpus, k=5).collect()
    }
    one = {
        (r.query_id, r.corpus_id)
        for r in sim.ivf_topk(queries, corpus, k=5).collect()
    }
    multi = {
        (r.query_id, r.corpus_id)
        for r in sim.ivf_multiprobe_topk(
            queries, corpus, centroids, k=5, n_probe=2
        ).collect()
    }
    full = {
        (r.query_id, r.corpus_id)
        for r in sim.ivf_multiprobe_topk(
            queries, corpus, centroids, k=5, n_probe=n_cells
        ).collect()
    }
    assert len(multi & truth) >= len(one & truth) > 0
    assert full == truth


def test_green_literals_in_sync_with_correctness_files():
    """The registry's _R1_GREEN/_R2_GREEN fallback literals must equal the
    hash-green rows actually recorded in CORRECTNESS_r01/r02.json — a
    regenerated or renamed driver file would otherwise silently
    desynchronize the deferral order (ADVICE r3)."""
    import json
    import os

    from financedatabase_spark.plans import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rnd, literal in ((1, registry._R1_GREEN), (2, registry._R2_GREEN)):
        path = os.path.join(root, f"CORRECTNESS_r0{rnd}.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            rows = json.load(f)
        green = {n for n, r in rows.items() if r.get("hash_match") is True}
        assert set(literal) == green, f"round {rnd} literals out of sync"


def test_registry_orders_never_green_first():
    """Driver budget = first 50: queries without a hash-green driver row
    must be registered ahead of every verified one."""
    from financedatabase_spark.plans.registry import QUERIES, _GREEN_ROUND

    rounds = [_GREEN_ROUND.get(n, 0) for n in QUERIES]
    assert rounds == sorted(rounds)


def test_kmeans_lloyd_improves_monotonically(spark, sf_dir):
    """Lloyd invariant: each assign->update->assign round weakly improves
    the mean assignment similarity (k-means objective monotonicity), and
    refinement never invents cells — the codebook only shrinks (empty
    cells drop) or keeps its cardinality."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators import similarity as sim
    from financedatabase_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_cells0 = emb.select("label").distinct().count()
    prev = None
    for iters in (1, 2, 3):
        a = sim.kmeans_refine(emb, iters=iters)
        row = a.agg(
            F.avg("sim").alias("m"), F.countDistinct("assigned_label").alias("c")
        ).collect()[0]
        assert row.c <= n_cells0
        if prev is not None:
            assert row.m >= prev - 1e-9, f"objective regressed at iters={iters}"
        prev = row.m


def test_symbol_correlation_degenerate_pairs_null(spark, tmp_path):
    """Zero-variance and n=1 pairs must yield NULL correlation in BOTH
    engines (advisor r7: unguarded denominator gave NaN/Inf in Spark and
    a sqrt-domain error risk in DuckDB on such data)."""
    import datetime as dt

    import duckdb as ddb
    import pandas as pd

    from financedatabase_spark.plans.registry import ORACLE_SQL, QUERIES

    rows = []
    eid = 0
    # FLAT: constant value every day -> zero variance on its leg
    # VAR:  genuinely varying          -> positive variance
    # ONCE: a single day               -> n=1 pairs with everyone
    for d in range(4):
        ts = dt.datetime(2024, 1, 1 + d, 12, 0, 0)
        rows.append((eid := eid + 1, ts, 1, "FLAT", 5.0, "{}"))
        rows.append((eid := eid + 1, ts, 2, "VAR", 1.0 + 2.5 * d, "{}"))
    rows.append((eid + 1, dt.datetime(2024, 1, 2, 9, 0, 0), 3, "ONCE", 7.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf.to_parquet(str(tmp_path / "events.parquet"))

    spark_pdf = QUERIES["symbol_correlation"](spark, str(tmp_path)).toPandas()
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    oracle_pdf = con.execute(ORACLE_SQL["symbol_correlation"]).fetchdf()
    con.close()
    assert_frames_match(spark_pdf, oracle_pdf, rtol=0.0)
    by_pair = {
        (r.symbol_a, r.symbol_b): r.corr_daily_mean
        for r in spark_pdf.itertuples()
    }
    # every pair involving FLAT (zero variance) or ONCE (n=1) is NULL;
    # no NaN/Inf anywhere
    for pair, corr in by_pair.items():
        if "FLAT" in pair or "ONCE" in pair:
            assert pd.isna(corr), pair
        else:
            assert pd.notna(corr) and abs(corr) <= 1.0, pair


def test_ivf_pq_recall_vs_exact(spark):
    """IVF-PQ recall gate on a per-subspace generative corpus: every
    vector is a concatenation of per-subspace codewords (8 well-spread
    codewords per subspace, tiny jitter), so a correctly trained PQ
    codebook recovers the generative vocabulary and asymmetric distances
    track exact L2 almost perfectly — recall@5 vs brute force must be
    high, and every query's rank-1 hit must be itself."""
    import numpy as np

    from pyspark.sql import functions as F

    from financedatabase_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    dim, m, k_words, n = 16, 4, 8, 200
    d = dim // m
    vocab = rng.uniform(-1, 1, (m, k_words, d))  # well-spread in [-1,1]^4
    choice = rng.randint(0, k_words, (n, m))
    X = np.concatenate(
        [vocab[s][choice[:, s]] for s in range(m)], axis=1
    ) + rng.uniform(-1e-3, 1e-3, (n, dim))
    rows = [
        (i, [float(x) for x in X[i]], int(choice[i, 0]))  # cell = subspace-0 word
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    queries = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    centroids = sim.cell_centroids(emb)
    cbs = sim.pq_train_subspace(emb, m=m, dim=dim, k_sub=k_words, iters=3)
    qids = [r.query_id for r in queries.collect()]

    def recall_at(n_probe):
        got = sim.ivf_pq_topk(
            queries, corpus, centroids, m=m, dim=dim, k=5,
            n_probe=n_probe, codebooks=cbs,
        ).collect()
        hits = tot = 0
        for q in qids:
            dists = ((X - X[q]) ** 2).sum(axis=1)
            order = np.lexsort((np.arange(n), dists))
            truth = set(order[:5].tolist())
            pq = {r.corpus_id for r in got if r.query_id == q}
            assert len(pq) == 5
            hits += len(truth & pq)
            tot += 5
        return hits / tot, got

    # with enough probes the ONLY approximation left is PQ quantization,
    # which the trained codebooks must resolve to (near-)exact ranking
    full, got4 = recall_at(4)
    assert full >= 0.95, f"IVF-PQ recall@5 (n_probe=4) = {full:.2f}"
    # the nprobe knob trades recall for scan volume, never below this floor
    low, _ = recall_at(2)
    assert 0.8 <= low <= full, f"IVF-PQ recall@5 (n_probe=2) = {low:.2f}"
    # rank-1 hit is the query itself (self approx-distance ~ jitter only)
    r1 = {r.query_id: r.corpus_id for r in got4 if r.rank == 1}
    assert all(r1[q] == q for q in qids)


def test_green_round_cap_preserves_ordering():
    """Capping _green_by_round to the newest N files must not change the
    registration order while all evidence is fresh: with the driver
    verifying ~50/round over ~150 queries, every newest-green row sits
    within the last 3-4 rounds, so the capped and uncapped maps agree."""
    from financedatabase_spark.plans.registry import _green_by_round

    capped, full = _green_by_round(max_files=8), _green_by_round(max_files=10**6)
    assert capped == full


def test_hash_invalidation_ordering():
    """Green evidence older than the query's CURRENT oracle must not
    count: a hash mismatch (oracle edited after the last ledger
    refresh) or a green row earned before `since` maps the query to
    never-verified, sorting it to the front of the driver's budget."""
    from financedatabase_spark.plans.registry import _effective_green

    green = {"stable": 11, "edited_unrefreshed": 12,
             "edited_refreshed": 10, "reverified": 12}
    snapshot = {
        "stable": {"hash": "aa", "since": 1},
        "edited_unrefreshed": {"hash": "old", "since": 1},
        "edited_refreshed": {"hash": "bb", "since": 12},   # green r10 < since
        "reverified": {"hash": "cc", "since": 12},          # green r12 >= since
        "never_green": {"hash": "dd", "since": 1},
    }
    fp = {"stable": "aa", "edited_unrefreshed": "new",
          "edited_refreshed": "bb", "reverified": "cc", "never_green": "dd",
          "unledgered": "ee"}
    eff = _effective_green(green, snapshot, fp)
    assert eff == {"stable": 11, "reverified": 12}
    # never-verified (dropped or absent) sorts strictly before any green
    order = sorted(fp, key=lambda n: eff.get(n, 0))
    front = set(order[:4])
    assert front == {"edited_unrefreshed", "edited_refreshed",
                     "never_green", "unledgered"}


def test_oracle_hash_snapshot_fresh():
    """Every registered query must have a ledger entry whose hash
    matches its LIVE fingerprint — i.e. whoever changes an oracle (or a
    rows-only query body) must run tools/update_oracle_hashes.py so the
    change invalidates stale green evidence. A missing or stale entry
    here means rotation would silently trust outdated rows."""
    import json
    import os

    from financedatabase_spark.plans import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "ORACLE_HASHES.json")) as f:
        ledger = json.load(f)["hashes"]

    stale = sorted(
        n for n in registry.QUERIES
        if n not in ledger
        or ledger[n]["hash"] != registry.oracle_fingerprint(n)
    )
    assert not stale, (
        f"oracle changed without ledger refresh for {stale}; "
        f"run: python tools/update_oracle_hashes.py"
    )
    # and the ledger carries no ghosts of unregistered queries
    assert sorted(set(ledger) - set(registry.QUERIES)) == []


def test_source_test_citations_exist():
    """Every `test_*` name the package cites (docstrings and comments
    that say which test pins a behaviour) must exist under tests/ as a
    test module or test function — a citation outliving its test claims
    a verification nobody runs."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tests_dir = os.path.join(root, "tests")
    known: set[str] = set()
    for fname in os.listdir(tests_dir):
        if fname.startswith("test_") and fname.endswith(".py"):
            known.add(fname[:-3])
            with open(os.path.join(tests_dir, fname)) as f:
                known.update(re.findall(r"def (test_\w+)\(", f.read()))

    cite = re.compile(r"\btest_\w+")
    missing = []
    pkg = os.path.join(root, "financedatabase_spark")
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    missing += [
                        f"{os.path.relpath(path, root)}:{lineno}: {name}"
                        for name in cite.findall(line)
                        if name not in known
                    ]
    assert not missing, missing
