"""Scale-pattern tests: co-located bucketed joins and salted skew joins —
the two explicit levers the README's scale notes promise beyond what
Catalyst/AQE do automatically."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from mcp_rag_server_spark.functions.skew import salted_join
from mcp_rag_server_spark.plans.inspect import count_exchanges, plan_string

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, tmp_path, no_broadcast):
    """Both sides bucketed+sorted on the join key → SortMergeJoin with
    ZERO exchanges: the 100 TB recipe for repeated fact-fact joins
    (bucket pruning also applies). Plain parquet (non-bucketed) joins
    of the same data shuffle both sides."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    for name, df, key in (
        ("b_orders", orders, "o_orderkey"),
        ("b_lineitem", lineitem, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    joined = spark.table("b_lineitem").join(
        spark.table("b_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert count_exchanges(joined) == 0, plan_string(joined)
    assert "SortMergeJoin" in plan_string(joined)
    # Same join on the raw (unbucketed) parquet shuffles both sides.
    raw = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    assert count_exchanges(raw) == 2
    # And the result is identical.
    assert joined.count() == raw.count()


def test_salted_join_matches_plain_join(spark, no_broadcast):
    """A 95%-skewed key: salted result == plain result, and the salted
    shuffle key has n_salts x the cardinality on the hot key."""
    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")
    )
    plain = big.join(small, "k").select("k", "payload", "dim_val")
    salted = salted_join(big, small, "k").select("k", "payload", "dim_val")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_left_outer(spark, no_broadcast):
    big = spark.range(0, 100).select((F.col("id") % 5).alias("k"), "id")
    small = spark.range(0, 2).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    plain = big.join(small, "k", "left").select("k", "id", "v")
    salted = salted_join(big, small, "k", how="left").select("k", "id", "v")
    assert sorted(
        map(tuple, salted.collect()), key=lambda t: tuple((x is None, x) for x in t)
    ) == sorted(
        map(tuple, plain.collect()), key=lambda t: tuple((x is None, x) for x in t)
    )


def test_salted_join_query_plan_fans_out(spark, no_broadcast):
    """The registry query's shuffle key must be (k, _salt) — the salt
    fan-out is visible as _salt inside the join-side hashpartitioning
    exchanges (with broadcast disabled, as at true scale where the
    exploded dim side still shuffles)."""
    from mcp_rag_server_spark.registry import load_all

    df = load_all()["ev_salted_hot_key_join"].spark_fn(spark, SF)
    plan = plan_string(df)
    assert "_salt" in plan
    import re

    part_keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_salt" in keys and "k" in keys for keys in part_keys), part_keys


def test_star_contraction_chain_converges_logarithmically(spark):
    """A 64-node chain is the adversarial case for min-label propagation
    (needs 63 rounds); large-star/small-star must collapse it to one
    component in <= log2(n)+2 rounds."""
    import math

    from mcp_rag_server_spark.operators.dedup import (
        star_contraction_components,
    )

    n = 64
    chain = spark.range(1, n).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    labels, rounds = star_contraction_components(chain)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)
    assert rounds <= int(math.log2(n)) + 2, rounds


def test_star_contraction_single_terminal_exceptall(spark, monkeypatch):
    """The fixpoint probe is one count() per round; the exceptAll
    symmetric-difference shuffle may run ONLY on the terminal round where
    counts match (the r2 version paid two exceptAll jobs every round)."""
    from mcp_rag_server_spark.operators.dedup import (
        star_contraction_components,
    )

    chain = spark.range(1, 64).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    # Patch the instance's concrete class: pyspark 4 routes instances
    # through the classic/connect subclass, not pyspark.sql.DataFrame.
    cls = type(chain)
    calls = {"n": 0}
    orig = cls.exceptAll

    def counting(self, other):
        calls["n"] += 1
        return orig(self, other)

    monkeypatch.setattr(cls, "exceptAll", counting)
    labels, rounds = star_contraction_components(chain)
    assert labels.count() == 64
    assert rounds >= 2
    assert calls["n"] == 1, calls["n"]


def test_star_contraction_raises_when_round_bound_hit(spark):
    from mcp_rag_server_spark.operators.dedup import (
        star_contraction_components,
    )

    chain = spark.range(1, 16).select(
        F.col("id").alias("src"), (F.col("id") - 1).alias("dst")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        star_contraction_components(chain, max_rounds=1)


def test_mmr_pairs_rejects_unbounded_pool(spark):
    """The per-query O(pool²) self-join must fail loudly if a caller
    claims a pool beyond MMR_POOL_MAX instead of silently launching a
    quadratic job (the contract rag_mmr_topk's LIMIT stage upholds)."""
    from mcp_rag_server_spark.operators.rag import MMR_POOL_MAX, mmr_pairs

    cand = spark.range(3).select(
        F.lit(0).alias("qid"),
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("embedding"),
        F.lit(0.5).alias("rel"),
    )
    with pytest.raises(ValueError, match="pool_bound"):
        mmr_pairs(cand, pool_bound=MMR_POOL_MAX + 1)
    mmr_pairs(cand, pool_bound=MMR_POOL_MAX)  # at the cap: fine


def test_band_audit_truth_is_sampled_above_guard(spark):
    """dd_lsh_band_audit's exact-truth all-pairs join must run on the
    ABSOLUTE lowest-md5 AUDIT_SAMPLE_ROWS sample whenever the corpus
    exceeds AUDIT_FULL_MAX — the cap is code, not prose: the md5 sort
    key and the global limit both have to appear in the plan, and the
    physical plan must realize the limit as TakeOrderedAndProject (no
    full sort shuffle)."""
    from mcp_rag_server_spark.operators.dedup import (
        AUDIT_FULL_MAX,
        AUDIT_SAMPLE_ROWS,
        dd_lsh_band_audit,
    )

    sf = "/root/testdata/sf0.01"  # 500 docs > AUDIT_FULL_MAX
    n = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert n > AUDIT_FULL_MAX
    df = dd_lsh_band_audit(spark, sf)
    plan = plan_string(df, "extended")
    squashed = plan.replace(" ", "").lower()
    assert "__audit_md5" in plan  # the md5 sort key
    assert f"limit{AUDIT_SAMPLE_ROWS}" in squashed.replace("=", "")
    physical = plan_string(df, "formatted")
    assert "TakeOrderedAndProject" in physical


def test_band_audit_full_corpus_branch_parity(spark, tmp_path):
    """The audit's BELOW-guard branch (corpus <= AUDIT_FULL_MAX: no
    sampling, truth over the full corpus) must also match the oracle.
    Every driver fixture has 500 docs — above the guard — so this
    branch is reachable only here: both engines run over a 200-doc
    subset, exercising the unsampled Spark path and the oracle's first
    UNION ALL arm."""
    import duckdb

    from mcp_rag_server_spark.operators.dedup import (
        AUDIT_FULL_MAX,
        dd_lsh_band_audit,
    )
    from mcp_rag_server_spark.registry import load_all
    from tests.test_oracle_parity import canon_rows

    small = str(tmp_path / "small_sf")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{small}/documents.parquet")
    )
    n = spark.read.parquet(f"{small}/documents.parquet").count()
    assert 0 < n <= AUDIT_FULL_MAX
    spdf = dd_lsh_band_audit(spark, small).toPandas()
    assert len(spdf) == 4  # all four bandings present

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{small}/documents.parquet/*.parquet')"
    )
    ddf = con.execute(load_all()["dd_lsh_band_audit"].oracle).fetchdf()
    con.close()
    srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
    assert canon_rows(list(spdf.columns), srows) == canon_rows(
        list(ddf.columns), drows
    )


def test_gdpr_delete_drops_fully_emptied_bucket(spark):
    """Dynamic partition overwrite replaces only partitions PRESENT in
    the written frame — erasing every row of a bucket contributes no
    partition, so without the explicit directory delete the old files
    silently survive. sf0.001 has exactly one user per bucket, so the
    erased user's whole bucket must vanish from the result (this
    fixture caught the bug: a cross-SF oracle sweep mismatched only
    here while sf0.01, where the bucket keeps other users, passed)."""
    import duckdb as _duckdb

    from test_oracle_parity import canon_rows

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    spdf = (
        load_all()["ingest_gdpr_delete"].spark_fn(spark, sf).toPandas()
    )
    # bucket 3 (users 3/19/35 all ≡ 3 mod 16) must be gone entirely
    assert 3 not in set(spdf["user_bucket"])
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    ddf = con.execute(load_all()["ingest_gdpr_delete"].oracle).fetchdf()
    con.close()
    srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
    assert canon_rows(list(spdf.columns), srows) == canon_rows(
        list(ddf.columns), drows
    )


def test_scan_parallelism_scales_with_file_count(spark, tmp_path):
    """The bench fixtures are single-row-group files, so headline scans
    (tpch_q1) run as ONE task — a fixture artifact, not an engine limit
    (BASELINE.md caveat). This pins the 100x claim the bench can't
    show: the same lineitem data written as N files yields a scan whose
    partition count scales with N (Spark's file-split packing charges
    each file openCostInBytes, so small files land in distinct splits),
    while the single-file original stays a single task. At 100 TB the
    writer's job is therefore layout (file count x row-group size), and
    the reader parallelizes for free."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    single = spark.read.parquet(f"{SF}/lineitem.parquet")
    assert single.rdd.getNumPartitions() == 1

    multi_dir = str(tmp_path / "lineitem_multifile")
    li.repartition(8).write.parquet(multi_dir)
    multi = spark.read.parquet(multi_dir)
    assert multi.rdd.getNumPartitions() >= 8
    # same rows either way — layout must never change content
    assert multi.count() == li.count()


def test_connected_components_match_union_find(spark):
    """dd_connected_components' star-contraction labels must equal an
    independent union-find closure over the same edge list (min node id
    as the component label). Guards the contraction algebra itself —
    the DuckDB recursive-CTE oracle is an independent engine but the
    same reachability formulation; union-find is a different algorithm
    entirely (same reasoning as the OLS-vs-numpy check)."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    edges = [
        (r["doc_a"], r["doc_b"])
        for r in load_all()["dd_jaccard_same_source"]
        .spark_fn(spark, sf)
        .collect()
    ]
    got = {
        r["doc_id"]: r["component"]
        for r in load_all()["dd_connected_components"]
        .spark_fn(spark, sf)
        .collect()
    }

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for node in parent:
        root = find(node)
        want[node] = min(want.get(node, root), root)
    # canonical label = min id in the component
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        comp_min[r] = min(comp_min.get(r, node), node)
    want = {node: comp_min[find(node)] for node in parent}

    assert got == want, (got, want)


def test_pagerank_matches_python_power_iteration(spark):
    """ev_pagerank_types' distributed scatter/gather must agree with a
    direct in-memory power iteration over the same transition graph —
    same damping, iteration count, and per-term round-9 contributions,
    but computed by a plain Python loop instead of joins/aggregations
    (independent-algorithm guard, like the OLS/union-find checks)."""
    from collections import defaultdict

    from mcp_rag_server_spark.operators.graphs import PR_DAMPING, PR_ITERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("user_id", "event_id", "event_type", "ts")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    edges: dict = defaultdict(int)
    for _, g in ev.groupby("user_id"):
        types = list(g["event_type"])
        for a, b in zip(types, types[1:]):
            edges[(a, b)] += 1
    outw: dict = defaultdict(int)
    for (a, _b), w in edges.items():
        outw[a] += w
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(PR_ITERS):
        s: dict = defaultdict(float)
        for (a, b), w in sorted(edges.items()):
            s[b] += round(rank[a] * w / outw[a], 9)
        rank = {
            v: (1 - PR_DAMPING) / n + PR_DAMPING * s.get(v, 0.0)
            for v in nodes
        }

    got = {
        r["event_type"]: r["pagerank"]
        for r in load_all()["ev_pagerank_types"]
        .spark_fn(spark, sf)
        .collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - round(rank[v], 6)) < 2e-6, (v, got[v], rank[v])


def test_kmeans_refine_matches_numpy_lloyd(spark):
    """sim_kmeans_refine's distributed Lloyd iterations must agree with
    a direct numpy implementation over the same seed centroids,
    distance rounding, and (distance, cluster) tie-break — membership
    counts exactly, inertia within rounding tolerance (independent-
    algorithm guard, like the OLS/union-find/PageRank checks)."""
    import numpy as np

    from mcp_rag_server_spark.operators.clustering import KM_ITERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").toPandas()
    X = np.stack(
        [np.round(np.asarray(v, dtype=float), 7) for v in emb["embedding"]]
    )
    labels = sorted(emb["label"].unique())
    cent = {
        c: X[(emb["label"] == c).to_numpy()].mean(axis=0) for c in labels
    }
    # KM_ITERS assignments with KM_ITERS-1 centroid updates between
    # them; the reported inertia is the dd of the FINAL assignment
    # (the operator's a2 stage scores and assigns with c1 in one pass).
    assign = None
    dd = None
    for it in range(KM_ITERS):
        dd = np.stack(
            [
                np.round(((X - cent[c]) ** 2).sum(axis=1), 6)
                for c in labels
            ],
            axis=1,
        )
        assign = np.lexsort((np.arange(len(labels))[None, :].repeat(
            len(X), 0), dd), axis=1)[:, 0]  # argmin by (dd, cluster order)
        if it < KM_ITERS - 1:
            cent = {
                c: X[assign == i].mean(axis=0)
                for i, c in enumerate(labels)
                if (assign == i).any()
            }
    want_n = {labels[i]: int((assign == i).sum()) for i in range(len(labels))}
    want_inertia = {
        labels[i]: float(np.round(dd[assign == i, i].sum(), 4))
        for i in range(len(labels))
    }

    got = {
        r["cluster"]: (r["n_assigned"], r["inertia"])
        for r in load_all()["sim_kmeans_refine"].spark_fn(spark, sf).collect()
    }
    assert {c: v[0] for c, v in got.items()} == want_n
    for c, (_, inertia) in got.items():
        assert abs(inertia - want_inertia[c]) < 1e-2, (
            c, inertia, want_inertia[c],
        )


def _pd(table, sf="/root/testdata/sf0.001"):
    import duckdb

    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf}/{table}.parquet')"
    ).fetchdf()


def _md5_fold(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_cuped_matches_numpy(spark):
    """ev_cuped_adjustment's theta/estimates must match a direct numpy
    recomputation over per-user pre/post sums (independent-algorithm
    guard: pandas groupby + np.cov-style moments instead of the SQL
    sufficient-statistics pass)."""
    from decimal import ROUND_HALF_EVEN, Decimal

    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["ev_cuped_adjustment"].spark_fn(spark, sf).collect()[0]

    ev = _pd("events", sf)
    us = ev["ts"].astype("datetime64[us]").astype("int64")  # epoch µs
    lo, hi = int(us.min()), int(us.max())
    cut = lo + (hi - lo) // 2
    q = Decimal("0.0001")
    pre, post = {}, {}
    for uid, u, v in zip(ev["user_id"], us, ev["value"]):
        d = Decimal(float(v)).quantize(q, rounding=ROUND_HALF_EVEN)
        (pre if u < cut else post).setdefault(int(uid), Decimal(0))
        if u < cut:
            pre[int(uid)] += d
        else:
            post[int(uid)] += d
    users = sorted(set(pre) | set(post))
    p = np.array([float(pre.get(u, 0)) for u in users])
    y = np.array([float(post.get(u, 0)) for u in users])
    arm_b = np.array([_md5_fold(f"arm:{u}") % 2 != 0 for u in users])
    n = len(users)
    var_pre = (p * p).mean() - p.mean() ** 2
    var_post = (y * y).mean() - y.mean() ** 2
    cov = (p * y).mean() - p.mean() * y.mean()
    theta = cov / var_pre
    raw = y[arm_b].mean() - y[~arm_b].mean()
    # the operator applies the ROUNDED theta it reports
    cuped = raw - round(theta, 6) * (p[arm_b].mean() - p[~arm_b].mean())
    assert row["n_users"] == n
    assert abs(row["theta"] - round(theta, 6)) <= 2e-6
    assert abs(row["var_post"] - round(var_post, 2)) <= 0.05
    assert abs(row["est_raw"] - round(raw, 6)) <= 2e-6
    assert abs(row["est_cuped"] - round(cuped, 6)) <= 2e-6
    vr = 100 * (1 - (var_post - 2 * round(theta, 6) * cov
                     + round(theta, 6) ** 2 * var_pre) / var_post)
    assert abs(row["var_reduction_pct"] - round(vr, 4)) <= 2e-4


def test_auc_matches_pairwise_numpy(spark):
    """ta_quality_auc's histogram AUC must equal the O(P·N) pairwise
    Mann-Whitney computed directly in numpy over the same quantized
    scores and Gopher labels (different algorithm, same statistic)."""
    import numpy as np

    from mcp_rag_server_spark.operators.quality import (
        LR_W0,
        LR_W_DIV,
        LR_W_TOK,
        LR_W_WLEN,
        RULE_MAX_MEAN_WORDLEN,
        RULE_MAX_TOKENS,
        RULE_MIN_DISTINCT_RATIO,
        RULE_MIN_MEAN_WORDLEN,
        RULE_MIN_TOKENS,
    )
    from mcp_rag_server_spark.operators.textanalysis import STOPWORDS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["ta_quality_auc"].spark_fn(spark, sf).collect()[0]

    docs = _pd("documents", sf)
    scores, labels = [], []
    sw = set(STOPWORDS)
    for text, n_chars in zip(docs["text"], docs["n_chars"]):
        toks = text.split(" ")
        nt = len(toks)
        dr = len(set(toks)) / nt
        mw = (n_chars - nt + 1) / nt
        n_stop = sum(1 for t in toks if t in sw)
        labels.append(
            1
            if (
                RULE_MIN_TOKENS <= nt <= RULE_MAX_TOKENS
                and RULE_MIN_MEAN_WORDLEN <= mw <= RULE_MAX_MEAN_WORDLEN
                and dr >= RULE_MIN_DISTINCT_RATIO
                and n_stop > 0
            )
            else 0
        )
        z = LR_W0 + LR_W_TOK * (nt / 100) + LR_W_DIV * dr + LR_W_WLEN * (
            (n_chars / nt) / 10
        )
        scores.append(round(round(1.0 / (1.0 + np.exp(-z)), 6), 3))
    s = np.array(scores)
    lab = np.array(labels)
    sp, sn = s[lab == 1], s[lab == 0]
    wins = (sp[:, None] > sn[None, :]).sum() + 0.5 * (
        sp[:, None] == sn[None, :]
    ).sum()
    want = round(wins / (len(sp) * len(sn)), 6)
    assert row["n_pos"] == len(sp) and row["n_neg"] == len(sn)
    assert abs(row["auc"] - want) <= 1e-9


def test_markov_stationary_matches_numpy(spark):
    """ev_markov_stationary must agree with a direct numpy power
    iteration over the same rounded-8 transition matrix (vector-matrix
    products instead of joins/aggregations)."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import MARKOV_PI_ITERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["state"]: r["stationary_p"]
        for r in load_all()["ev_markov_stationary"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    from collections import Counter

    trans = Counter()
    for _, g in ev.groupby("user_id", sort=True):
        types = list(g["event_type"])
        for a, b in zip(types, types[1:]):
            trans[(a, b)] += 1
    states = sorted({a for a, _ in trans} | {b for _, b in trans})
    idx = {s: i for i, s in enumerate(states)}
    T = np.zeros((len(states), len(states)))
    rowsum = Counter()
    for (a, _), c in trans.items():
        rowsum[a] += c
    for (a, b), c in trans.items():
        T[idx[a], idx[b]] = round(c / rowsum[a], 8)
    pi = np.full(len(states), round(1.0 / len(states), 8))
    for _ in range(MARKOV_PI_ITERS):
        pi = np.round(pi @ T, 8)
    for s in states:
        assert abs(got[s] - round(pi[idx[s]], 6)) <= 1e-6, (s, got[s])


def _fold_cosine_matrix(E):
    """Left-to-right float64 fold of dot and norms over the dim axis —
    the exact addition order both engines use, replicated vectorized
    (one ordered add per dimension)."""
    import numpy as np

    n, d = E.shape
    dot = np.zeros((n, n))
    sq = np.zeros(n)
    for k in range(d):
        col = E[:, k].astype(np.float64)
        dot += np.outer(col, col)
        sq += col * col
    norm = np.sqrt(sq)
    return dot / (np.outer(norm, norm) + 1e-10)


def _cell_candidate_sets(ids, E):
    """Replicate clustering.cell_probes in plain Python: md5-lowest
    medoid seeds, ONE Lloyd refinement (rank-1 assignment to the
    seeds, then per-cell element means of round-7 values — the r9
    refinement), then per-vector top-CELL_PROBES cells by index-order
    float64 squared-L2 fold rounded to 6 (dd asc, cell-id tie-break).
    Returns {vec_id: frozenset(probed cell ids)} — two vectors are
    graph-build candidates iff their probe sets intersect."""
    import hashlib

    from mcp_rag_server_spark.operators.clustering import (
        CELL_PROBES,
        CELL_SALT,
        n_cells,
    )

    pos = {v: i for i, v in enumerate(ids)}
    seed_ids = sorted(
        ids,
        key=lambda v: hashlib.md5(f"{CELL_SALT}:{v}".encode()).hexdigest(),
    )[: n_cells(len(ids))]

    def dists(x, cents):
        ds = []
        for c, cv in cents:
            acc = 0.0
            for k in range(len(x)):
                diff = float(x[k]) - float(cv[k])
                acc += diff * diff
            ds.append((round(acc, 6), c))
        ds.sort()
        return ds

    seed_cents = [(c, E[pos[c]]) for c in seed_ids]
    members = {c: [] for c in seed_ids}
    for v in ids:
        members[dists(E[pos[v]], seed_cents)[0][1]].append(v)
    refined = []
    dim = len(E[0])
    for c in seed_ids:
        if members[c]:
            cv = [
                sum(round(float(E[pos[m]][k]), 7) for m in members[c])
                / len(members[c])
                for k in range(dim)
            ]
        else:
            # the shipped guard: an emptied cell (seeds tying at
            # rounded-6 distance 0) falls back to its own seed vector
            # element-rounded to 7 — the sole-member-cell centroid
            cv = [round(float(E[pos[c]][k]), 7) for k in range(dim)]
        refined.append((c, cv))
    cells = {}
    for v in ids:
        ds = dists(E[pos[v]], refined)
        cells[v] = frozenset(c for _, c in ds[:CELL_PROBES])
    return cells


def _cell_knn_adj(ids, E, cos, degree):
    """Top-``degree`` neighbors per vector among cell-blocked
    candidates — the Python twin of the shared _cell_scored_half →
    rank chain."""
    cells = _cell_candidate_sets(ids, E)
    pos = {v: i for i, v in enumerate(ids)}
    adj = {}
    for v in ids:
        cand = [w for w in ids if w != v and cells[v] & cells[w]]
        cand.sort(key=lambda w: (-cos[pos[v], pos[w]], w))
        adj[v] = cand[:degree]
    return adj


def test_kcore_matches_python_peel(spark):
    """sim_kcore_decompose's trajectory must equal a direct Python peel
    over the same rounded-4 cosine k-NN graph built from the same
    cell-blocked candidates (sets and dicts instead of joins)."""
    import numpy as np

    from mcp_rag_server_spark.operators.similarity import (
        KC_DEGREE,
        KC_ROUNDS,
        KC_THRESHOLD,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = [
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in load_all()["sim_kcore_decompose"].spark_fn(spark, sf).collect()
    ]

    emb = _pd("embeddings", sf).sort_values("vec_id")
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    adj0 = _cell_knn_adj(ids, E, cos, KC_DEGREE)
    edges = set()
    for vid, nbrs in adj0.items():
        for w in nbrs:
            edges.add((min(vid, w), max(vid, w)))
    want = []
    for rnd in range(KC_ROUNDS + 1):
        nodes = {u for e in edges for u in e}
        want.append((rnd, len(nodes), len(edges)))
        if rnd == KC_ROUNDS:
            break
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {u for u, d in deg.items() if d >= KC_THRESHOLD}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
    assert got == want, (got, want)


def test_greedy_search_matches_python_walk(spark):
    """sim_graph_greedy_search's per-hop curve must equal a direct
    Python beam walk over the same cell-blocked adjacency and
    scores."""
    import numpy as np

    from mcp_rag_server_spark.operators.similarity import (
        GS_BEAM,
        GS_DEGREE,
        GS_HOPS,
        GS_QUERY_ID,
        GS_TOP_K,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = [
        (r["hop"], r["n_visited"], r["best_id"],
         round(r["best_score"], 4), r["recall_at_k"])
        for r in load_all()["sim_graph_greedy_search"]
        .spark_fn(spark, sf)
        .collect()
    ]

    emb = _pd("embeddings", sf).sort_values("vec_id")
    ids = list(emb["vec_id"])
    pos = {v: i for i, v in enumerate(ids)}
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    qi = pos[GS_QUERY_ID]
    score = {v: cos[qi, pos[v]] for v in ids if v != GS_QUERY_ID}
    adj = _cell_knn_adj(ids, E, cos, GS_DEGREE)
    labels = dict(zip(emb["vec_id"], emb["label"]))
    entries = {}
    for v in sorted(score):
        entries.setdefault(labels[v], v)
    exact = sorted(score, key=lambda v: (-score[v], v))[:GS_TOP_K]
    visited = set(entries.values())

    def summary(hop):
        top = sorted(visited, key=lambda v: (-score[v], v))
        best = top[0]
        rec = round(len(set(top[:GS_TOP_K]) & set(exact)) / GS_TOP_K, 4)
        return (hop, len(visited), best, round(score[best], 4), rec)

    want = [summary(0)]
    for h in range(1, GS_HOPS + 1):
        beam = sorted(visited, key=lambda v: (-score[v], v))[:GS_BEAM]
        new = {
            w for b in beam for w in adj[b]
            if w not in visited and w != GS_QUERY_ID
        }
        visited |= new
        want.append(summary(h))
    assert got == want, (got, want)


def test_bpe_apply_matches_python_bpe(spark):
    """ta_bpe_apply's per-source token accounting must equal a direct
    Python BPE (merge learning + greedy application via str.replace —
    left-to-right non-overlapping in Python exactly as in both
    engines)."""
    from collections import Counter

    from mcp_rag_server_spark.operators.textanalysis import BPE_ITERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: (r["n_words"], r["n_bpe_tokens"], r["n_char_tokens"])
        for r in load_all()["ta_bpe_apply"].spark_fn(spark, sf).collect()
    }

    docs = _pd("documents", sf)
    words = Counter()
    for text in docs["text"]:
        for w in text.split(" "):
            if w:
                words[w] += 1
    sym = {w: " ".join(list(w)) + " </w>" for w in words}
    for _ in range(BPE_ITERS):
        pc = Counter()
        for w, f in words.items():
            parts = sym[w].split(" ")
            for a, b in zip(parts, parts[1:]):
                pc[f"{a} {b}"] += f
        pair = min(pc, key=lambda p: (-pc[p], p))
        merged = pair.replace(" ", "")
        for w in sym:
            sym[w] = (
                (" " + sym[w] + " ")
                .replace(" " + pair + " ", " " + merged + " ")
                .strip()
            )
    want = {}
    for text, src in zip(docs["text"], docs["source"]):
        for w in text.split(" "):
            if not w:
                continue
            nw, nb, nc = want.get(src, (0, 0, 0))
            want[src] = (
                nw + 1,
                nb + len(sym[w].split(" ")),
                nc + len(w) + 1,
            )
    assert got == want, (got, want)


def test_concurrency_matches_global_python_sweep(spark):
    """ev_concurrency_curve's two-level (day-local + day-offset)
    decomposition must reproduce the single GLOBAL sweep computed
    directly in Python over all session boundaries — the guard that
    the associativity rewrite is actually lossless."""
    from mcp_rag_server_spark.operators.events import SESSION_GAP_US
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["day"]: (r["n_sessions_started"], r["peak_concurrency"],
                   r["overall_peak"])
        for r in load_all()["ev_concurrency_curve"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    us = ev["ts"].astype("datetime64[us]").astype("int64")  # epoch µs
    ev = ev.assign(us=us)
    sessions = []
    for _, g in ev.groupby("user_id", sort=True):
        start = prev = None
        for u in g["us"]:
            if prev is None or u - prev > SESSION_GAP_US:
                if start is not None:
                    sessions.append((start, prev))
                start = u
            prev = u
        sessions.append((start, prev))
    bounds = [(s, 1) for s, _ in sessions] + [(e, -1) for _, e in sessions]
    bounds.sort(key=lambda b: (b[0], b[1]))  # delta asc at ties
    import datetime

    run = 0
    day_peak: dict = {}
    starts: dict = {}
    for u, d in bounds:
        day = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=int(u)
        )
        key = day.date().isoformat()
        run += d
        day_peak[key] = max(day_peak.get(key, -(10 ** 9)), run)
        if d == 1:
            starts[key] = starts.get(key, 0) + 1
    overall = max(day_peak.values())
    want = {
        k: (starts.get(k, 0), day_peak[k], overall) for k in day_peak
    }
    assert got == want, (got, want)


def test_textrank_matches_numpy_power_iteration(spark):
    """ta_textrank_keywords must agree with a direct numpy weighted
    power iteration over the same co-occurrence graph — same damping,
    iterations, and round-9 contribution discipline, computed by
    matrix ops instead of joins."""
    from collections import Counter

    import numpy as np

    from mcp_rag_server_spark.operators.textanalysis import (
        TR_DAMPING,
        TR_ITERS,
        TR_TOP_N,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = [
        (r["word"], r["textrank"], r["n_neighbors"])
        for r in load_all()["ta_textrank_keywords"].spark_fn(spark, sf).collect()
    ]

    docs = _pd("documents", sf)
    w = Counter()
    for text in docs["text"]:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            w[(a, b)] += 1
            w[(b, a)] += 1
    words = sorted({a for a, _ in w})
    idx = {x: i for i, x in enumerate(words)}
    n = len(words)
    W = np.zeros((n, n))
    for (a, b), c in w.items():
        W[idx[a], idx[b]] = c
    wtot = W.sum(axis=1)
    rank = np.full(n, 1.0 / n)
    for _ in range(TR_ITERS):
        contrib = np.round((rank / wtot)[:, None] * W, 9)
        rank = (1 - TR_DAMPING) / n + TR_DAMPING * contrib.sum(axis=0)
    deg = (W > 0).sum(axis=1)
    order = sorted(
        range(n), key=lambda i: (-round(rank[i], 6), words[i])
    )[:TR_TOP_N]
    want = [(words[i], round(rank[i], 6), int(deg[i])) for i in order]
    assert got == want, (got, want)


def test_delta_decomposition_matches_pandas(spark):
    """ev_delta_decomposition must match a direct pandas recomputation
    of the volume/rate/interaction identity (groupby instead of SQL
    conditionals)."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (
            r["n1"], r["n2"], r["delta"], r["volume_effect"],
            r["rate_effect"], r["interaction_effect"],
            r["decomposition_exact"],
        )
        for r in load_all()["ev_delta_decomposition"]
        .spark_fn(spark, sf)
        .collect()
    }

    ev = _pd("events", sf)
    us = ev["ts"].astype("datetime64[us]").astype("int64")
    lo, hi = int(us.min()), int(us.max())
    cut = lo + (hi - lo) // 2
    q = Decimal("0.0001")
    agg: dict = {}
    for et, u, v in zip(ev["event_type"], us, ev["value"]):
        d = Decimal(float(v)).quantize(q, rounding=ROUND_HALF_EVEN)
        n1, v1, n2, v2 = agg.get(et, (0, Decimal(0), 0, Decimal(0)))
        if u < cut:
            n1, v1 = n1 + 1, v1 + d
        else:
            n2, v2 = n2 + 1, v2 + d
        agg[et] = (n1, v1, n2, v2)
    for et, (n1, v1, n2, v2) in agg.items():
        v1f, v2f = float(v1), float(v2)
        delta = v2f - v1f
        vol = (n2 - n1) * (v1f / n1)
        rate = n1 * (v2f / n2 - v1f / n1)
        inter = (n2 - n1) * (v2f / n2 - v1f / n1)
        g = got[et]
        assert g[0] == n1 and g[1] == n2
        for gi, want in zip(g[2:6], (delta, vol, rate, inter)):
            assert abs(gi - round(want, 4)) <= 2e-4, (et, gi, want)
        assert g[6] == (abs(delta - (vol + rate + inter)) < 1e-6)


def test_doremi_step_matches_numpy(spark):
    """ta_doremi_step's weights must match a direct numpy
    multiplicative-weights step over the same per-source losses."""
    import numpy as np

    from mcp_rag_server_spark.operators.textanalysis import DOREMI_ETA
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = (
        load_all()["ta_doremi_step"].spark_fn(spark, sf).collect()
    )
    got = {r["source"]: r for r in rows}

    # independent loss recomputation
    from collections import Counter

    docs = _pd("documents", sf)
    tf = Counter()
    for text in docs["text"]:
        tf.update(text.split(" "))
    n = float(sum(tf.values()))
    losses, ntok = {}, {}
    for text, src in zip(docs["text"], docs["source"]):
        for t in text.split(" "):
            losses.setdefault(src, []).append(
                round(np.log(n / tf[t]), 8)
            )
    import math

    loss = {s: round(math.fsum(v) / len(v), 6) for s, v in losses.items()}
    ntok = {s: len(v) for s, v in losses.items()}
    total = sum(ntok.values())
    mean_loss = round(
        math.fsum(loss[s] * ntok[s] for s in loss) / total, 6
    )
    u = {}
    for s in loss:
        w0 = round(ntok[s] / total, 6)
        excess = round(max(0.0, loss[s] - mean_loss), 8)
        u[s] = round(w0 * math.exp(DOREMI_ETA * excess), 8)
    z = math.fsum(u.values())
    for s in loss:
        g = got[s]
        assert g["n_tokens"] == ntok[s]
        assert abs(g["loss"] - loss[s]) <= 2e-6, (s, g["loss"], loss[s])
        assert abs(g["w_next"] - round(u[s] / z, 6)) <= 2e-6


def test_growth_accounting_matches_python_ledger(spark):
    """ev_growth_accounting must match a direct Python classification
    over per-user active-day sets (set adjacency instead of
    windows)."""
    from mcp_rag_server_spark.operators.events import GA_DAY_US
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["day_index"]: (r["n_active"], r["n_new"], r["n_retained"],
                         r["n_resurrected"], r["n_churned_next"])
        for r in load_all()["ev_growth_accounting"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    us = ev["ts"].astype("datetime64[us]").astype("int64")
    active: dict = {}
    for uid, u in zip(ev["user_id"], us):
        active.setdefault(int(uid), set()).add(int(u) // GA_DAY_US)
    ledger: dict = {}
    for days in active.values():
        first = min(days)
        for d in days:
            a, n, r, s, c = ledger.get(d, (0, 0, 0, 0, 0))
            a += 1
            if d == first:
                n += 1
            elif d - 1 in days:
                r += 1
            else:
                s += 1
            if d + 1 not in days:
                c += 1
            ledger[d] = (a, n, r, s, c)
    assert got == ledger, (got, ledger)


def test_ipw_matches_python_estimator(spark):
    """ev_propensity_ipw must match a direct Python Hajek-IPW
    recomputation over per-user pre/post aggregates."""
    import math
    from decimal import ROUND_HALF_EVEN, Decimal

    from mcp_rag_server_spark.operators.events import (
        IPW_CLIP_HI,
        IPW_CLIP_LO,
        IPW_TREAT_MIN_PURCHASES,
        IPW_W0,
        IPW_W1,
        IPW_W2,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["ev_propensity_ipw"].spark_fn(spark, sf).collect()[0]

    ev = _pd("events", sf)
    us = ev["ts"].astype("datetime64[us]").astype("int64")
    lo, hi = int(us.min()), int(us.max())
    cut = lo + (hi - lo) // 2
    q = Decimal("0.0001")
    users: dict = {}
    for uid, u, et, v in zip(ev["user_id"], us, ev["event_type"],
                             ev["value"]):
        n_pre, v_pre, npur, y = users.get(
            int(uid), (0, Decimal(0), 0, Decimal(0))
        )
        d = Decimal(float(v)).quantize(q, rounding=ROUND_HALF_EVEN)
        if u < cut:
            n_pre += 1
            v_pre += d
            if et == "purchase":
                npur += 1
        else:
            y += d
        users[int(uid)] = (n_pre, v_pre, npur, y)
    sw1 = swy1 = sw0 = swy0 = sw1sq = 0.0
    n_t = 0
    naive_t, naive_c, nc = 0.0, 0.0, 0
    p_t = 0.0
    for n_pre, v_pre, npur, y in users.values():
        t = 1 if npur >= IPW_TREAT_MIN_PURCHASES else 0
        z = IPW_W0 + IPW_W1 * (n_pre / 10.0) + IPW_W2 * (
            float(v_pre) / 1000.0
        )
        p = min(IPW_CLIP_HI, max(IPW_CLIP_LO,
                                 round(1.0 / (1.0 + math.exp(-z)), 6)))
        yf = float(y)
        if t:
            n_t += 1
            p_t += p
            naive_t += yf
            sw1 += round(1 / p, 6)
            swy1 += round(yf / p, 6)
            sw1sq += round(1 / p, 6) ** 2
        else:
            nc += 1
            naive_c += yf
            sw0 += round(1 / (1 - p), 6)
            swy0 += round(yf / (1 - p), 6)
    assert row["n_users"] == len(users) and row["n_treated"] == n_t
    assert abs(row["mean_p_treated"] - round(p_t / n_t, 6)) <= 2e-6
    assert abs(row["ate_naive"]
               - round(naive_t / n_t - naive_c / nc, 6)) <= 2e-6
    assert abs(row["ate_ipw"]
               - round(swy1 / sw1 - swy0 / sw0, 6)) <= 5e-6
    assert abs(row["ess_treated"] - round(sw1 * sw1 / sw1sq, 2)) <= 0.02


def test_kneser_ney_matches_python_lm(spark):
    """ta_kneser_ney_bigram must match a direct Python KN model built
    with Counters (sampled docs; same discount, rounding, decimal
    sums)."""
    import math
    from collections import Counter, defaultdict

    from mcp_rag_server_spark.operators.textanalysis import KN_DISCOUNT
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_surprisal_kn"], r["ppl_kn"])
        for r in load_all()["ta_kneser_ney_bigram"].spark_fn(spark, sf).collect()
    }

    docs = _pd("documents", sf)
    bg = Counter()
    per_doc = defaultdict(list)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            bg[(a, b)] += 1
            per_doc[int(doc_id)].append((a, b))
    c_x, n1p_fwd, n1p_back = Counter(), Counter(), Counter()
    for (a, b), c in bg.items():
        c_x[a] += c
        n1p_fwd[a] += 1
        n1p_back[b] += 1
    n_types = float(len(bg))
    d = KN_DISCOUNT
    for doc_id in list(per_doc)[:50]:
        ss = [
            round(-math.log(
                (bg[p] - d) / c_x[p[0]]
                + (d * n1p_fwd[p[0]] / c_x[p[0]])
                * (n1p_back[p[1]] / n_types)
            ), 8)
            for p in per_doc[doc_id]
        ]
        mean = round(math.fsum(ss) / len(ss), 6)
        g = got[doc_id]
        assert g[0] == len(ss)
        assert abs(g[1] - mean) <= 2e-6, (doc_id, g[1], mean)
        assert abs(g[2] - round(math.exp(mean), 4)) <= 2e-4


def test_skyline_matches_bruteforce_dominance(spark):
    """agg_skyline_2d's sorted-linear formulation must equal the
    O(n²) textbook dominance definition evaluated directly in
    Python."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        (r["price"], r["sz"]): (r["n_parts"], r["min_partkey"])
        for r in load_all()["agg_skyline_2d"].spark_fn(spark, sf).collect()
    }

    part = _pd("part", sf)
    pts = list(zip(part["p_retailprice"], part["p_size"],
                   part["p_partkey"]))
    pairs = sorted({(p, s) for p, s, _ in pts})
    sky = [
        (p, s) for p, s in pairs
        if not any(
            (q <= p and t >= s and (q < p or t > s)) for q, t in pairs
        )
    ]
    want = {}
    for p, s in sky:
        members = [k for pp, ss, k in pts if pp == p and ss == s]
        want[(p, int(s))] = (len(members), int(min(members)))
    assert got == want, (got, want)


def test_zipf_fit_matches_numpy_lstsq(spark):
    """ta_zipf_fit's closed-form OLS must agree with numpy's lstsq over
    the same rounded (ln rank, ln freq) points — an independent
    ALGORITHM (QR solve vs moment formulas), since the cross-engine
    hash cannot catch a formula both engines share via one SQL text."""
    from collections import Counter

    import numpy as np

    from mcp_rag_server_spark.operators.textanalysis import ZIPF_TOP
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["ta_zipf_fit"].spark_fn(spark, sf).collect()[0]

    freq = Counter()
    for text in _pd("documents", sf)["text"]:
        freq.update(text.split(" "))
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP]
    x = np.array([round(np.log(r + 1), 6) for r in range(len(top))])
    y = np.array([round(np.log(c), 6) for _, c in top])
    A = np.vstack([x, np.ones(len(x))]).T
    (slope, intercept), *_ = np.linalg.lstsq(A, y, rcond=None)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert row["n_tokens"] == len(top)
    assert abs(row["slope"] - slope) <= 1e-5, (row["slope"], slope)
    assert abs(row["intercept"] - intercept) <= 1e-5
    assert abs(row["r2"] - r2) <= 1e-5
    # corpus-health sanity: a natural-ish corpus slopes negative
    assert row["slope"] < 0


def test_simpson_diversity_matches_python_counts(spark):
    """ta_simpson_diversity is a pure count statistic — a dict-based
    Python replication must match the integer numerators/denominators
    EXACTLY (no tolerance)."""
    from collections import Counter

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["lang"]: r
        for r in load_all()["ta_simpson_diversity"]
        .spark_fn(spark, sf)
        .collect()
    }

    docs = _pd("documents", sf)
    per = Counter(zip(docs["lang"], docs["source"]))
    langs = sorted({l for l, _ in per})
    assert set(got) == set(langs)
    for lang in langs:
        ns = {s: n for (l, s), n in per.items() if l == lang}
        n_docs = sum(ns.values())
        pair_num = sum(n * (n - 1) for n in ns.values())
        r = got[lang]
        assert r["n_docs"] == n_docs
        assert r["n_sources"] == len(ns)
        assert r["pair_num"] == pair_num
        assert r["pair_den"] == n_docs * (n_docs - 1)
        assert abs(r["simpson"] - pair_num / (n_docs * (n_docs - 1))) <= 1e-12


def test_range_trailing30_matches_python_brute(spark):
    """window_range_trailing30's RANGE frame must equal a brute-force
    per-order rescan in Python (every same-customer order within 30
    epoch days, decimal-exact revenue) — catches a frame-bound or
    peer-inclusion regression the oracle (same SQL shape) could
    share."""
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = (
        load_all()["window_range_trailing30"].spark_fn(spark, sf).collect()
    )

    o = _pd("orders", sf)
    o = o[o["o_custkey"] < 100]
    recs = []
    epoch = datetime.date(1970, 1, 1)
    q4 = Decimal("0.0001")
    for r in o.itertuples(index=False):
        day = (r.o_orderdate.date() - epoch).days
        recs.append(
            (
                r.o_custkey,
                r.o_orderkey,
                day,
                Decimal(repr(r.o_totalprice)).quantize(q4, ROUND_HALF_UP),
            )
        )
    assert len(rows) == len(recs)
    by_cust = {}
    for c, k, d, p in recs:
        by_cust.setdefault(c, []).append((d, p))
    want = {}
    for c, k, d, p in recs:
        peers = [(dd, pp) for dd, pp in by_cust[c] if d - 30 <= dd <= d]
        want[(c, k)] = (
            float(sum(pp for _, pp in peers)),
            len(peers),
        )
    for r in rows:
        rev, cnt = want[(r["o_custkey"], r["o_orderkey"])]
        assert abs(r["trailing30_revenue"] - rev) <= 1e-9, r
        assert r["trailing30_orders"] == cnt, r


def test_recursive_reach_matches_python_bfs(spark):
    """sql_recursive_reach (Spark 4 WITH RECURSIVE) must equal a plain
    Python BFS over the same frequent-transition graph — the recursion
    SQL is shared verbatim between engines, so only an independent
    traversal can catch a semantics bug in it. sf0.01: the 400-
    transition edge floor is tuned there (sf0.001 passes trivially)."""
    from collections import Counter, deque

    from mcp_rag_server_spark.operators.events import (
        REACH_MAX_HOPS,
        REACH_MIN_TRANSITIONS,
        REACH_START,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.01"
    got = {
        r["event_type"]: r["min_hops"]
        for r in load_all()["sql_recursive_reach"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    trans = Counter()
    for _, g in ev.groupby("user_id", sort=False):
        types = list(g["event_type"])
        trans.update(zip(types, types[1:]))
    adj = {}
    for (a, b), n in trans.items():
        if n >= REACH_MIN_TRANSITIONS:
            adj.setdefault(a, set()).add(b)
    # non-trivial at this SF: the sparsified graph must have edges
    assert adj, trans
    dist = {REACH_START: 0}
    dq = deque([REACH_START])
    while dq:
        u = dq.popleft()
        if dist[u] >= REACH_MAX_HOPS:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    assert got == dist, (got, dist)


def test_pq_train_matches_python_lloyd(spark):
    """sim_pq_train must equal a from-scratch Python Lloyd step per
    subspace (dict/list arithmetic replicating the decimal-exact mean,
    ordered-fold distance, and (dd, label) argmin tie-break) — the
    independent-algorithm check for the k-means family rule."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.vector_audit import PQ_DSUB, PQ_M
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["m"]: r
        for r in load_all()["sim_pq_train"].spark_fn(spark, sf).collect()
    }

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = [[float(x) for x in v] for v in emb["embedding"]]
    labels = [int(x) for x in emb["label"]]
    q7, q6 = Decimal("1e-7"), Decimal("1e-6")

    def dec_mean(vals):
        s = sum(
            Decimal(repr(v)).quantize(q7, ROUND_HALF_UP) for v in vals
        )
        return float(s) / len(vals)

    def codebook(assign):
        """assign: {(vec_idx, m): label} -> {(m, label): [c_0..c_dsub]}"""
        cw = {}
        for m in range(PQ_M):
            members = {}
            for i in range(len(ids)):
                members.setdefault(assign[(i, m)], []).append(i)
            for lab, idxs in members.items():
                cw[(m, lab)] = [
                    dec_mean([E[i][m * PQ_DSUB + d] for i in idxs])
                    for d in range(PQ_DSUB)
                ]
        return cw

    def assign_pass(cw):
        out, dd_of = {}, {}
        for i in range(len(ids)):
            for m in range(PQ_M):
                sv = E[i][m * PQ_DSUB : (m + 1) * PQ_DSUB]
                best = None
                for (mm, lab), cv in cw.items():
                    if mm != m:
                        continue
                    acc = 0.0
                    for k in range(PQ_DSUB):
                        acc += (sv[k] - cv[k]) * (sv[k] - cv[k])
                    dd = float(
                        Decimal(repr(acc)).quantize(q6, ROUND_HALF_UP)
                    )
                    if best is None or (dd, lab) < best:
                        best = (dd, lab)
                out[(i, m)] = best[1]
                dd_of[(i, m)] = best[0]
        return out, dd_of

    def err_used(assign, dd_of):
        out = {}
        for m in range(PQ_M):
            dds = [
                Decimal(repr(dd_of[(i, m)])).quantize(q6, ROUND_HALF_UP)
                for i in range(len(ids))
            ]
            used = len({assign[(i, m)] for i in range(len(ids))})
            out[m] = (used, round(float(sum(dds)), 4))
        return out

    seed_assign = {
        (i, m): labels[i] for i in range(len(ids)) for m in range(PQ_M)
    }
    cw0 = codebook(seed_assign)
    a0, dd0 = assign_pass(cw0)
    s0 = err_used(a0, dd0)
    cw1 = codebook(a0)
    a1, dd1 = assign_pass(cw1)
    s1 = err_used(a1, dd1)
    for m in range(PQ_M):
        r = got[m]
        assert r["n_used_seed"] == s0[m][0], (m, r)
        assert r["n_used_refined"] == s1[m][0], (m, r)
        assert abs(r["err_seed"] - s0[m][1]) <= 1e-9, (m, r)
        assert abs(r["err_refined"] - s1[m][1]) <= 1e-9, (m, r)
        assert r["improved"] == (s1[m][1] <= s0[m][1])


def test_theil_sen_matches_numpy(spark):
    """ev_theil_sen: the pairwise-slope median and the OLS slope must
    agree with numpy (np.median over explicitly enumerated pair slopes;
    np.polyfit for the OLS line) — independent algorithms for both
    estimators, vs the shared moment-formula SQL."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_theil_sen"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    q4 = Decimal("0.0001")
    hourly = {}
    for r in ev.itertuples(index=False):
        h = r.ts.floor("h")
        key = (r.event_type, h)
        hourly[key] = hourly.get(key, Decimal(0)) + Decimal(
            repr(r.value)
        ).quantize(q4, ROUND_HALF_UP)
    series = {}
    for (et, h), v in hourly.items():
        series.setdefault(et, []).append((h, float(v)))
    for et, pts in series.items():
        pts.sort()
        v = np.array([p[1] for p in pts])
        t = np.arange(1, len(v) + 1, dtype=float)
        slopes = [
            (v[j] - v[i]) / (t[j] - t[i])
            for i in range(len(v))
            for j in range(i + 1, len(v))
        ]
        r = got[et]
        assert r["n_hours"] == len(v)
        assert r["n_pairs"] == len(slopes)
        assert abs(r["ts_slope"] - np.median(slopes)) <= 1e-5, (et, r)
        ols = np.polyfit(t, v, 1)[0]
        assert abs(r["ols_slope"] - ols) <= 1e-5, (et, r["ols_slope"], ols)
        assert abs(r["slope_gap"] - (np.median(slopes) - ols)) <= 2e-5


def test_skew_kurtosis_matches_two_pass_numpy(spark):
    """agg_skew_kurtosis spells population moments from raw power sums
    (the engines' built-ins disagree on bias correction); numpy here
    computes them the two-pass CENTERED way (subtract the mean first,
    then average the powered residuals) — a genuinely different
    algorithm whose agreement rules out a wrong moment identity."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: r
        for r in load_all()["agg_skew_kurtosis"].spark_fn(spark, sf).collect()
    }

    li = _pd("lineitem", sf)
    for flag, g in li.groupby("l_returnflag"):
        x = np.round(g["l_quantity"].to_numpy(dtype=float), 4)
        r = got[flag]
        assert r["n"] == len(x)
        mu = x.mean()
        c = x - mu
        m2 = (c**2).mean()
        m3 = (c**3).mean()
        m4 = (c**4).mean()
        assert abs(r["mean_qty"] - mu) <= 1e-5
        assert abs(r["stddev_pop"] - np.sqrt(m2)) <= 1e-5
        assert abs(r["skewness"] - m3 / m2**1.5) <= 1e-5
        assert abs(r["excess_kurtosis"] - (m4 / m2**2 - 3)) <= 1e-5


def _transition_edges(sf):
    """(src, dst) -> count over per-user (ts, event_id)-ordered lead
    pairs — the shared graph derivation of the HITS/absorbing checks."""
    from collections import Counter

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    trans = Counter()
    for _, g in ev.groupby("user_id", sort=False):
        types = list(g["event_type"])
        trans.update(zip(types, types[1:]))
    return trans


def test_hits_scores_matches_python_iteration(spark):
    """ev_hits_scores must equal a dict-based Python HITS run (direct
    vector iteration instead of joins) with the same round-9 decimal
    gather discipline."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.graphs import HITS_ITERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_hits_scores"].spark_fn(spark, sf).collect()
    got = {r["event_type"]: (r["authority"], r["hub"]) for r in rows}

    edges = _transition_edges(sf)
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    q9 = Decimal("1e-9")

    def rq9(x):
        return Decimal(repr(x)).quantize(q9, ROUND_HALF_UP)

    def gather(score, forward):
        raw = {}
        for (s, d), w in edges.items():
            frm, to = (s, d) if forward else (d, s)
            raw[to] = raw.get(to, Decimal(0)) + rq9(score[frm] * float(w))
        raw_f = {n: float(v) for n, v in raw.items()}
        tot = float(sum(rq9(v) for v in raw_f.values()))
        return {n: raw_f.get(n, 0.0) / tot for n in nodes}

    hub = {n: 1.0 for n in nodes}
    for _ in range(HITS_ITERS):
        auth = gather(hub, forward=True)
        hub = gather(auth, forward=False)
    for n in nodes:
        a, h = got[n]
        assert abs(a - round(auth[n], 6)) <= 1e-9, (n, a, auth[n])
        assert abs(h - round(hub[n], 6)) <= 1e-9, (n, h, hub[n])


def test_absorbing_conversion_matches_python_recursion(spark):
    """ev_absorbing_conversion_prob must equal the Python backward
    recursion a_k(s) = Σ_t P(s,t)·a_{k-1}(t) with purchase absorbing,
    run over dicts with the same round-9 gather."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.graphs import ABS_STEPS, ABS_TARGET
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_absorbing_conversion_prob"].spark_fn(spark, sf)
    got = {r["event_type"]: r for r in rows.collect()}

    edges = _transition_edges(sf)
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    wout = {}
    for (s, _), w in edges.items():
        wout[s] = wout.get(s, 0) + w
    q9 = Decimal("1e-9")

    p = {n: 1.0 if n == ABS_TARGET else 0.0 for n in nodes}
    snapshots = {}
    for k in range(1, max(ABS_STEPS) + 1):
        raw = {}
        for (s, d), w in edges.items():
            if s == ABS_TARGET:
                continue
            raw[s] = raw.get(s, Decimal(0)) + Decimal(
                repr(float(w) / float(wout[s]) * p[d])
            ).quantize(q9, ROUND_HALF_UP)
        p = {
            n: 1.0 if n == ABS_TARGET else float(raw.get(n, Decimal(0)))
            for n in nodes
        }
        snapshots[k] = dict(p)
    for n in nodes:
        for k in ABS_STEPS:
            assert (
                abs(got[n][f"p_within_{k}"] - round(snapshots[k][n], 6))
                <= 1e-9
            ), (n, k)


def test_mutual_information_matches_entropy_identity(spark):
    """ev_mutual_information computes MI as Σ p·ln ratios; the check
    recomputes it via the INDEPENDENT identity MI = H(X) + H(Y) −
    H(X,Y) from plug-in entropies, and chi² from an explicit
    expected-count loop."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["ev_mutual_information"].spark_fn(spark, sf).collect()[0]

    ev = _pd("events", sf)
    from collections import Counter

    cells = Counter(zip(ev["event_type"], ev["ts"].dt.hour.astype(int)))
    n = sum(cells.values())
    nx = Counter()
    ny = Counter()
    for (x, y), c in cells.items():
        nx[x] += c
        ny[y] += c

    def H(counts):
        p = np.array(list(counts.values()), dtype=float) / n
        return -(p * np.log(p)).sum()

    mi = H(nx) + H(ny) - H(cells)
    chi2 = sum(
        (c - nx[x] * ny[y] / n) ** 2 / (nx[x] * ny[y] / n)
        for (x, y), c in cells.items()
    )
    # absent cells contribute their expected count to chi² too
    chi2 += sum(
        nx[x] * ny[y] / n
        for x in nx
        for y in ny
        if (x, y) not in cells
    )
    assert row["n_events"] == n
    assert row["n_types"] == len(nx) and row["n_hours"] == len(ny)
    assert row["dof"] == (len(nx) - 1) * (len(ny) - 1)
    assert abs(row["mi_nats"] - mi) <= 1e-4, (row["mi_nats"], mi)
    assert abs(row["chi2"] - chi2) <= 0.05, (row["chi2"], chi2)


def test_entropy_rate_matches_log_identity(spark):
    """ev_entropy_rate computes H = Σ (c/n)·ln(n/c); the check uses the
    independent identity H = ln(n) − (Σ c·ln c)/n over the same
    transition counts."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["from_type"]: r
        for r in load_all()["ev_entropy_rate"].spark_fn(spark, sf).collect()
    }

    edges = _transition_edges(sf)
    rows_by_src = {}
    for (s, _), c in edges.items():
        rows_by_src.setdefault(s, []).append(c)
    assert set(got) == set(rows_by_src)
    for s, cs in rows_by_src.items():
        n = sum(cs)
        h = np.log(n) - sum(c * np.log(c) for c in cs) / n
        r = got[s]
        assert r["n_transitions"] == n
        assert abs(r["entropy_nats"] - h) <= 1e-5, (s, r["entropy_nats"], h)
        assert abs(r["perplexity"] - np.exp(h)) <= 1e-3


def test_did_estimator_matches_numpy_cells(spark):
    """ev_did_estimator must match a direct numpy recomputation of the
    2×2 cell means, the DiD contrast, and the large-sample SE over the
    same md5-parity arms and hour-aligned 72h post period."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import DID_POST_HOURS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_did_estimator"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    cut = ev["ts"].max().floor("h") - np.timedelta64(DID_POST_HOURS, "h")
    arms = np.where(
        np.array([_md5_fold(f"arm:{u}") for u in ev["user_id"]]) % 2 == 0,
        "A",
        "B",
    )
    period = np.where(ev["ts"].to_numpy() >= np.datetime64(cut), "post", "pre")
    v = np.round(ev["value"].to_numpy(dtype=float), 4)
    et = ev["event_type"].to_numpy()
    for t in sorted(set(et)):
        m, vn = {}, {}
        n_total = 0
        for a in ("A", "B"):
            for p in ("pre", "post"):
                sel = (et == t) & (arms == a) & (period == p)
                xs = v[sel]
                n_total += len(xs)
                m[(a, p)] = xs.mean()
                vn[(a, p)] = xs.var(ddof=1) / len(xs)
        est = (m[("B", "post")] - m[("B", "pre")]) - (
            m[("A", "post")] - m[("A", "pre")]
        )
        se = np.sqrt(sum(vn.values()))
        r = got[t]
        assert r["n_total"] == n_total
        assert abs(r["did_estimate"] - est) <= 1e-5, (t, r)
        assert abs(r["std_error"] - se) <= 1e-5
        assert abs(r["z_stat"] - est / se) <= 1e-3
        assert r["reject_95"] == (abs(est / se) > 1.96)


def test_power_mde_matches_numpy(spark):
    """ev_power_mde: MDE and the 1%-lift sample size must match numpy's
    ddof=1 variance (two-pass centered) pushed through the same power
    formulas."""
    import math

    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_power_mde"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    for t, g in ev.groupby("event_type"):
        x = np.round(g["value"].to_numpy(dtype=float), 4)
        n = len(x)
        mu, var = x.mean(), x.var(ddof=1)
        mde = 2.8 * np.sqrt(2 * var / (n / 2))
        r = got[t]
        assert r["n_events"] == n
        assert abs(r["mean_value"] - mu) <= 1e-5
        assert abs(r["stddev"] - np.sqrt(var)) <= 1e-5
        assert abs(r["mde_abs"] - mde) <= 1e-5
        assert abs(r["mde_rel"] - mde / mu) <= 1e-5
        want_n = math.ceil(2 * 2.8 * 2.8 * var / (0.01 * mu) ** 2)
        assert abs(r["n_per_arm_for_1pct"] - want_n) <= 1


def test_rolling_median_matches_python_windows(spark):
    """ev_rolling_median: the trailing-24h exact median census must
    match per-type Python slices through np.median."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.events import (
        RM_DEV_FACTOR,
        RM_WINDOW_H,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_rolling_median"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    q4 = Decimal("0.0001")
    hourly = {}
    for r in ev.itertuples(index=False):
        key = (r.event_type, r.ts.floor("h"))
        hourly[key] = hourly.get(key, Decimal(0)) + Decimal(
            repr(r.value)
        ).quantize(q4, ROUND_HALF_UP)
    series = {}
    for (et, h), v in sorted(hourly.items()):
        series.setdefault(et, []).append(float(v))
    for et, vs in series.items():
        meds = [
            float(np.median(vs[max(0, i - RM_WINDOW_H + 1) : i + 1]))
            for i in range(len(vs))
        ]
        spikes = sum(1 for v, m in zip(vs, meds) if v > RM_DEV_FACTOR * m)
        dips = sum(
            1 for v, m in zip(vs, meds) if m > 0 and v < m / RM_DEV_FACTOR
        )
        mean_med = float(
            sum(
                Decimal(repr(m)).quantize(q4, ROUND_HALF_UP) for m in meds
            )
        ) / len(meds)
        r = got[et]
        assert r["n_hours"] == len(vs)
        assert r["n_spikes"] == spikes, (et, r["n_spikes"], spikes)
        assert r["n_dips"] == dips
        assert abs(r["mean_rolling_median"] - mean_med) <= 1e-3


def test_ratio_metric_ci_matches_numpy_delta_method(spark):
    """ev_ratio_metric_ci: the cluster-robust delta-method SE must
    match numpy's ddof=1 var/cov over per-user totals (np.cov's
    two-pass centering vs the SQL moment identities)."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_ratio_metric_ci"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    ev = ev.assign(v=np.round(ev["value"].astype(float), 4))
    for t, g in ev.groupby("event_type"):
        per = g.groupby("user_id").agg(v=("v", "sum"), n=("v", "size"))
        u = len(per)
        vv, nn = per["v"].to_numpy(float), per["n"].to_numpy(float)
        r_hat = vv.sum() / nn.sum()
        var_v = vv.var(ddof=1)
        var_n = nn.var(ddof=1)
        cov_vn = np.cov(vv, nn, ddof=1)[0, 1]
        mean_n = nn.mean()
        se_cl = np.sqrt(
            (var_v - 2 * r_hat * cov_vn + r_hat**2 * var_n)
            / (u * mean_n**2)
        )
        x = g["v"].to_numpy(float)
        se_iid = np.sqrt(x.var(ddof=1) / len(x))
        r = got[t]
        assert r["n_users"] == u and r["n_events"] == len(x)
        assert abs(r["ratio_value_per_event"] - r_hat) <= 1e-5
        assert abs(r["se_cluster"] - se_cl) <= 1e-5
        assert abs(r["ci_lo"] - (r_hat - 1.96 * se_cl)) <= 2e-5
        assert abs(r["ci_hi"] - (r_hat + 1.96 * se_cl)) <= 2e-5
        assert abs(r["design_effect"] - se_cl / se_iid) <= 1e-4


def _hourly_decimal_series(sf):
    """{event_type: [(hour, float v)]} with v the exact decimal sum of
    rounded-4 values — the shared hourly derivation of the
    timeseries-family checks."""
    from decimal import ROUND_HALF_UP, Decimal

    q4 = Decimal("0.0001")
    hourly = {}
    for r in _pd("events", sf).itertuples(index=False):
        key = (r.event_type, r.ts.floor("h"))
        hourly[key] = hourly.get(key, Decimal(0)) + Decimal(
            repr(r.value)
        ).quantize(q4, ROUND_HALF_UP)
    series = {}
    for (et, h), v in sorted(hourly.items()):
        series.setdefault(et, []).append((h, float(v)))
    return series


def test_seasonal_decompose_matches_python_stl_lite(spark):
    """ev_seasonal_decompose: Hyndman strength scores must match a
    direct Python decomposition (explicit rolling slices, per-hod
    means, np population variances)."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import DECOMP_HALF_W
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_seasonal_decompose"].spark_fn(spark, sf).collect()
    }

    for et, pts in _hourly_decimal_series(sf).items():
        hs = [h for h, _ in pts]
        v = np.array([x for _, x in pts])
        n = len(v)
        trend = np.array(
            [
                v[max(0, i - DECOMP_HALF_W) : i + DECOMP_HALF_W + 1].mean()
                for i in range(n)
            ]
        )
        dt = np.round(v - trend, 6)
        hod = np.array([h.hour for h in hs])
        seas = np.array([dt[hod == hd].mean() for hd in hod])
        resid = np.round(dt - seas, 6)
        deseas = np.round(v - seas, 6)
        f_s = max(0.0, 1 - resid.var() / dt.var())
        f_t = max(0.0, 1 - resid.var() / deseas.var())
        r = got[et]
        assert r["n_hours"] == n
        assert abs(r["seasonality_strength"] - f_s) <= 1e-4, (et, r, f_s)
        assert abs(r["trend_strength"] - f_t) <= 1e-4, (et, r, f_t)


def test_anomaly_seasonal_zscore_matches_python(spark):
    """ev_anomaly_seasonal_zscore: the seasonal vs global anomaly
    census must match explicit per-stratum numpy z-scores."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import SEAS_Z_THRESHOLD
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_anomaly_seasonal_zscore"]
        .spark_fn(spark, sf)
        .collect()
    }

    for et, pts in _hourly_decimal_series(sf).items():
        hs = [h for h, _ in pts]
        v = np.array([x for _, x in pts])
        hod = np.array([h.hour for h in hs])
        z_seas = np.empty(len(v))
        for hd in set(hod):
            sel = hod == hd
            mu, sd = v[sel].mean(), v[sel].std(ddof=0)
            z_seas[sel] = (v[sel] - mu) / sd if sd else np.nan
        mu_g, sd_g = v.mean(), v.std(ddof=0)
        z_glob = (v - mu_g) / sd_g
        ns = int((np.abs(z_seas) > SEAS_Z_THRESHOLD).sum())
        ng = int((np.abs(z_glob) > SEAS_Z_THRESHOLD).sum())
        nonly = int(
            (
                (np.abs(z_seas) > SEAS_Z_THRESHOLD)
                & ~(np.abs(z_glob) > SEAS_Z_THRESHOLD)
            ).sum()
        )
        r = got[et]
        assert r["n_hours"] == len(v)
        assert r["n_anomalies_seasonal"] == ns, (et, r)
        assert r["n_anomalies_global"] == ng
        assert r["n_only_seasonal_catches"] == nonly
        assert abs(r["max_abs_z_seasonal"] - np.nanmax(np.abs(z_seas))) <= 1e-3


def test_bootstrap_ci_matches_python_poisson_draws(spark):
    """ev_bootstrap_ci: replicate the md5-quantized Poisson(1) weights
    and resample means in Python; the SE/CI must match numpy ddof=1
    moments of the 16 resample means."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import BOOT_B
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_bootstrap_ci"].spark_fn(spark, sf).collect()
    }

    def pois(u):
        for hi, w in ((3679, 0), (7358, 1), (9197, 2), (9810, 3), (9963, 4)):
            if u < hi:
                return w
        return 5

    ev = _pd("events", sf)
    v = np.round(ev["value"].to_numpy(float), 4)
    et = ev["event_type"].to_numpy()
    eid = ev["event_id"].to_numpy()
    for t in sorted(set(et)):
        sel = et == t
        means = []
        for b in range(1, BOOT_B + 1):
            w = np.array(
                [pois(_md5_fold(f"boot:{e}:{b}") % 10000) for e in eid[sel]]
            )
            means.append(round((w * v[sel]).sum() / w.sum(), 6))
        means = np.array(means)
        se = means.std(ddof=1)
        mu = v[sel].mean()
        r = got[t]
        assert r["n_resamples"] == BOOT_B
        assert abs(r["point_mean"] - mu) <= 1e-5
        assert abs(r["se_boot"] - se) <= 1e-5, (t, r["se_boot"], se)
        assert abs(r["ci_lo"] - (mu - 1.96 * se)) <= 2e-5
        assert abs(r["ci_hi"] - (mu + 1.96 * se)) <= 2e-5


def test_msprt_curve_matches_python(spark):
    """ev_msprt_sequential: the per-day always-valid p curve must match
    a Python rollup of daily sufficient statistics through the
    closed-form mixture likelihood ratio."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import MSPRT_ALPHA, MSPRT_TAU2
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_msprt_sequential"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    arm_b = np.array(
        [_md5_fold(f"arm:{u}") % 2 == 1 for u in ev["user_id"]]
    )
    v = np.round(ev["value"].to_numpy(float), 4)
    day = ev["ts"].dt.date.to_numpy()
    days = sorted(set(day))
    assert len(rows) == len(days)
    for r, upto in zip(rows, days):
        sel = day <= upto
        a, b = v[sel & ~arm_b], v[sel & arm_b]
        delta = b.mean() - a.mean()
        sig2 = a.var(ddof=0) / len(a) + b.var(ddof=0) / len(b)
        ll = 0.5 * np.log(sig2 / (sig2 + MSPRT_TAU2)) + MSPRT_TAU2 * delta**2 / (
            2 * sig2 * (sig2 + MSPRT_TAU2)
        )
        p = min(1.0, np.exp(-round(ll, 6)))
        assert str(r["day"]) == str(upto)
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        assert abs(r["mean_diff"] - delta) <= 1e-5
        assert abs(r["z"] - delta / np.sqrt(sig2)) <= 1e-3
        assert abs(r["log_lambda"] - ll) <= 1e-5
        assert abs(r["p_always_valid"] - p) <= 1e-5
        assert r["crossed"] == (round(p, 6) <= MSPRT_ALPHA)


def test_funnel_time_quantiles_match_numpy(spark):
    """ev_funnel_time_quantiles: first-touch deltas and continuous
    p50/p90 must match numpy's linear-interpolation percentiles."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["step_pair"]: r
        for r in load_all()["ev_funnel_time_quantiles"]
        .spark_fn(spark, sf)
        .collect()
    }

    ev = _pd("events", sf)
    firsts = {}
    for r in ev.itertuples(index=False):
        key = (r.user_id, r.event_type)
        t = r.ts.value // 1000  # ns -> us
        if key not in firsts or t < firsts[key]:
            firsts[key] = t
    steps = {
        "0_view_to_click": ("view", "click"),
        "1_click_to_purchase": ("click", "purchase"),
        "2_view_to_purchase": ("view", "purchase"),
    }
    users = {u for u, _ in firsts}
    for name, (frm, to) in steps.items():
        mins = []
        for u in users:
            t0, t1 = firsts.get((u, frm)), firsts.get((u, to))
            if t0 is not None and t1 is not None and t1 > t0:
                mins.append((t1 - t0) / 60000000.0)
        mins = np.array(mins)
        r = got[name]
        assert r["n_converted"] == len(mins)
        assert abs(r["p50_minutes"] - np.percentile(mins, 50)) <= 1e-3
        assert abs(r["p90_minutes"] - np.percentile(mins, 90)) <= 1e-3
        assert abs(r["mean_minutes"] - np.round(mins, 4).mean()) <= 1e-3


def test_changepoint_matches_python_sse_argmin(spark):
    """ev_changepoint maximizes between-segment SS via prefix-sum gain;
    the check MINIMIZES total within-segment SSE computed the direct
    way (np.var per side) — equivalent by the ANOVA identity, different
    arithmetic — and recomputes the means and variance-explained."""
    import numpy as np

    from mcp_rag_server_spark.operators.events import CHANGEPOINT_MIN_SEG
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_changepoint"].spark_fn(spark, sf).collect()
    }

    for et, pts in _hourly_decimal_series(sf).items():
        v = np.array([x for _, x in pts])
        n = len(v)
        ks = range(CHANGEPOINT_MIN_SEG, n - CHANGEPOINT_MIN_SEG + 1)
        sse = [v[:k].var() * k + v[k:].var() * (n - k) for k in ks]
        k_best = list(ks)[int(np.argmin(sse))]
        tss = v.var() * n
        r = got[et]
        assert r["n_hours"] == n
        assert r["change_idx"] == k_best, (et, r["change_idx"], k_best)
        assert abs(r["mean_before"] - v[:k_best].mean()) <= 1e-5
        assert abs(r["mean_after"] - v[k_best:].mean()) <= 1e-5
        assert abs(r["var_explained"] - (1 - min(sse) / tss)) <= 1e-4


def test_forecast_backtest_matches_numpy_polyfit(spark):
    """ev_forecast_backtest: the train-window OLS must match
    np.polyfit, and the MAE/skill/MAPE scores a direct Python scoring
    loop over the test hours."""
    import math

    import numpy as np

    from mcp_rag_server_spark.operators.events import BACKTEST_TRAIN_SHARE
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_forecast_backtest"].spark_fn(spark, sf).collect()
    }

    for et, pts in _hourly_decimal_series(sf).items():
        v = np.array([x for _, x in pts])
        n = len(v)
        t = np.arange(1, n + 1, dtype=float)
        n_train = math.floor(BACKTEST_TRAIN_SHARE * n)
        slope, intercept = np.polyfit(t[:n_train], v[:n_train], 1)
        test_v, test_t = v[n_train:], t[n_train:]
        pred = intercept + slope * test_t
        err_m = np.round(np.abs(test_v - pred), 6)
        err_n = np.round(np.abs(test_v - v[n_train - 1]), 6)
        n_test = n - n_train
        r = got[et]
        assert r["n_train"] == n_train and r["n_test"] == n_test
        assert abs(r["slope"] - slope) <= 1e-5
        assert abs(r["intercept"] - intercept) <= 1e-4
        assert abs(r["mae_model"] - err_m.sum() / n_test) <= 1e-4
        assert abs(r["mae_naive"] - err_n.sum() / n_test) <= 1e-4
        assert abs(r["skill"] - (1 - err_m.sum() / err_n.sum())) <= 1e-4
        pos = test_v > 0
        mape = np.round(err_m[pos] / test_v[pos], 6).sum() / pos.sum()
        assert abs(r["mape_model"] - mape) <= 1e-4


def test_user_overlap_jaccard_matches_python_sets(spark):
    """ev_user_overlap_jaccard is exact set arithmetic — Python
    frozensets must reproduce every pair row with zero tolerance on
    the integers."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_user_overlap_jaccard"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    audiences = {
        t: frozenset(g["user_id"]) for t, g in ev.groupby("event_type")
    }
    types = sorted(audiences)
    want = {}
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            both = len(audiences[a] & audiences[b])
            if both:
                want[(a, b)] = both
    assert {(r["type_a"], r["type_b"]) for r in rows} == set(want)
    for r in rows:
        a, b = r["type_a"], r["type_b"]
        na, nb = len(audiences[a]), len(audiences[b])
        both = want[(a, b)]
        assert r["n_a"] == na and r["n_b"] == nb and r["n_both"] == both
        assert abs(r["jaccard"] - both / (na + nb - both)) <= 1e-6
        assert abs(r["containment_min"] - both / min(na, nb)) <= 1e-6


def test_stickiness_matches_python_rolling_sets(spark):
    """ev_stickiness_ratio's bounded-explode rolling distinct must
    equal direct Python set unions over each trailing window."""
    from mcp_rag_server_spark.operators.events import (
        STICKY_EVENT,
        STICKY_WINDOW_DAYS,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_stickiness_ratio"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    ev = ev[ev["event_type"] == STICKY_EVENT]
    active = {}
    for r in ev.itertuples(index=False):
        d = (r.ts.value // 1000) // 86400000000
        active.setdefault(d, set()).add(r.user_id)
    lo, hi = min(active), max(active)
    want = {}
    for d in range(lo + STICKY_WINDOW_DAYS - 1, hi + 1):
        if d not in active:
            continue
        wau = set()
        for k in range(STICKY_WINDOW_DAYS):
            wau |= active.get(d - k, set())
        want[d] = (len(active[d]), len(wau))
    assert {r["day_index"] for r in rows} == set(want)
    for r in rows:
        dau, wau = want[r["day_index"]]
        assert r["n_dau"] == dau
        assert r[f"n_wau_{STICKY_WINDOW_DAYS}d"] == wau
        assert abs(r["stickiness"] - round(dau / wau, 4)) <= 1e-9


def test_ohlc_bars_match_pandas(spark):
    """ev_ohlc_bars: open/close under the (ts, event_id) total order
    and high/low/volume must match a pandas groupby."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_ohlc_bars"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf).sort_values(["ts", "event_id"])
    q4 = Decimal("0.0001")
    bars = {}
    for r in ev.itertuples(index=False):
        eh = (r.ts.value // 1000) // 3600000000
        v = Decimal(repr(r.value)).quantize(q4, ROUND_HALF_UP)
        if eh not in bars:
            bars[eh] = [v, v, v, v, 0, Decimal(0)]
        b = bars[eh]
        b[1] = max(b[1], v)
        b[2] = min(b[2], v)
        b[3] = v  # close: last under the sort order
        b[4] += 1
        b[5] += v
    assert {r["hour_index"] for r in rows} == set(bars)
    for r in rows:
        o, h, l, c, n, vol = bars[r["hour_index"]]
        assert r["open_v"] == float(o) and r["close_v"] == float(c)
        assert r["high_v"] == float(h) and r["low_v"] == float(l)
        assert r["n_events"] == n
        assert abs(r["volume"] - float(vol)) <= 1e-9


def test_concurrency_curve_matches_global_sweep(spark):
    """ev_concurrency_curve decomposes the sweep into day-local runs +
    a day-net prefix (the scalable form); the check runs the TEXTBOOK
    single global sweep line in Python — one running sum over all
    boundary events in time order — which must reconstruct the same
    per-day peaks."""
    from mcp_rag_server_spark.operators.events import SESSION_GAP_US
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_concurrency_curve"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    bounds = []
    for _, g in ev.groupby("user_id", sort=False):
        ts = [t.value // 1000 for t in g["ts"]]
        start = ts[0]
        prev = ts[0]
        for t in ts[1:]:
            if t - prev > SESSION_GAP_US:
                bounds.append((start, 1))
                bounds.append((prev, -1))
                start = t
            prev = t
        bounds.append((start, 1))
        bounds.append((prev, -1))
    bounds.sort()  # (ts, delta): -1 sorts before +1 at the same instant
    run = 0
    peaks, starts = {}, {}
    for t, d in bounds:
        run += d
        day = t // 86400000000
        peaks[day] = max(peaks.get(day, 0), run)
        if d == 1:
            starts[day] = starts.get(day, 0) + 1
    overall = max(peaks.values())
    assert len(rows) == len(peaks)
    for r in rows:
        day = (
            __import__("datetime")
            .date.fromisoformat(str(r["day"]))
            .toordinal()
            - __import__("datetime").date(1970, 1, 1).toordinal()
        )
        assert r["peak_concurrency"] == peaks[day], (r, peaks[day])
        assert r["n_sessions_started"] == starts.get(day, 0)
        assert r["overall_peak"] == overall


def test_slo_burn_rate_matches_python_windows(spark):
    """ev_slo_burn_rate: the gap-correct 6h RANGE frame must equal an
    explicit per-hour dict lookup over eh-5..eh."""
    from collections import Counter

    from mcp_rag_server_spark.operators.events import (
        SLO_BURN_FAST,
        SLO_BURN_SLOW,
        SLO_ERROR_BUDGET,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_slo_burn_rate"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    n_h, e_h = Counter(), Counter()
    for r in ev.itertuples(index=False):
        eh = (r.ts.value // 1000) // 3600000000
        n_h[eh] += 1
        if r.event_type == "error":
            e_h[eh] += 1
    days = {}
    for eh in sorted(n_h):
        n6 = sum(n_h.get(k, 0) for k in range(eh - 5, eh + 1))
        e6 = sum(e_h.get(k, 0) for k in range(eh - 5, eh + 1))
        b1 = round((e_h.get(eh, 0) / n_h[eh]) / SLO_ERROR_BUDGET, 6)
        b6 = round((e6 / n6) / SLO_ERROR_BUDGET, 6)
        d = days.setdefault(eh // 24, [0, 0.0, 0.0, 0])
        d[0] += 1
        d[1] = max(d[1], b1)
        d[2] = max(d[2], b6)
        if b1 > SLO_BURN_FAST and b6 > SLO_BURN_SLOW:
            d[3] += 1
    assert {r["day_index"] for r in rows} == set(days)
    for r in rows:
        nh, mb1, mb6, na = days[r["day_index"]]
        assert r["n_hours"] == nh
        assert abs(r["max_burn_1h"] - mb1) <= 1e-9
        assert abs(r["max_burn_6h"] - mb6) <= 1e-9
        assert r["n_alert_hours"] == na


def test_seq_pattern_support_matches_python_firsts(spark):
    """ev_seq_pattern_support: the first-occurrence trichotomy census
    must match a Python dict of per-(user, type) minimum
    timestamps."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_seq_pattern_support"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    firsts = {}
    for r in ev.itertuples(index=False):
        key = (r.user_id, r.event_type)
        if key not in firsts or r.ts < firsts[key]:
            firsts[key] = r.ts
    by_user = {}
    for (u, t), ts in firsts.items():
        by_user.setdefault(u, {})[t] = ts
    from collections import Counter

    census = Counter()
    for u, tmap in by_user.items():
        types = sorted(tmap)
        for i, a in enumerate(types):
            for b in types[i + 1 :]:
                if tmap[a] < tmap[b]:
                    census[(a, b, "a")] += 1
                elif tmap[b] < tmap[a]:
                    census[(a, b, "b")] += 1
                else:
                    census[(a, b, "t")] += 1
    for r in rows:
        a, b = r["type_a"], r["type_b"]
        na = census[(a, b, "a")]
        nb = census[(a, b, "b")]
        nt = census[(a, b, "t")]
        assert r["n_users_both"] == na + nb + nt
        assert r["n_a_first"] == na and r["n_b_first"] == nb
        assert r["n_tie"] == nt
        assert abs(r["pct_a_first"] - round(na / (na + nb + nt), 4)) <= 1e-9


def test_cohort_ltv_matches_python(spark):
    """ev_cohort_ltv_curve: payer cohorts and cumulative value per user
    at each age cutoff must match a direct Python pass."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.events import LTV_CUTOFFS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_cohort_ltv_curve"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    q4 = Decimal("0.0001")
    cohort_day = {}
    for r in ev.itertuples(index=False):
        if r.event_type == "purchase":
            d = (r.ts.value // 1000) // 86400000000
            u = r.user_id
            if u not in cohort_day or d < cohort_day[u]:
                cohort_day[u] = d
    per = {}
    for r in ev.itertuples(index=False):
        u = r.user_id
        if u not in cohort_day:
            continue
        d = (r.ts.value // 1000) // 86400000000
        if d < cohort_day[u]:
            continue
        wk = cohort_day[u] // 7
        age = d - cohort_day[u]
        cell = per.setdefault(wk, {})
        user_vals = cell.setdefault(u, [])
        user_vals.append(
            (age, Decimal(repr(r.value)).quantize(q4, ROUND_HALF_UP))
        )
    want = {}
    for wk, users in per.items():
        n_users = len(users)
        for c in LTV_CUTOFFS:
            tot = sum(
                (v for vals in users.values() for a, v in vals if a <= c),
                Decimal(0),
            )
            want[(wk, c)] = (n_users, round(float(tot) / n_users, 6))
    assert {(r["cohort_week"], r["age_days"]) for r in rows} == set(want)
    for r in rows:
        n_users, ltv = want[(r["cohort_week"], r["age_days"])]
        assert r["n_users"] == n_users
        assert abs(r["cum_value_per_user"] - ltv) <= 1e-6


def test_winsorized_mean_matches_numpy(spark):
    """agg_winsorized_mean: np.percentile cut points (linear
    interpolation == percentile/quantile_cont), explicit clamping, and
    the three means must match."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: r
        for r in load_all()["agg_winsorized_mean"].spark_fn(spark, sf).collect()
    }

    li = _pd("lineitem", sf)
    for flag, g in li.groupby("l_returnflag"):
        x = np.round(g["l_extendedprice"].to_numpy(float), 4)
        p05, p95 = np.percentile(x, [5, 95])
        clamped = np.clip(x, p05, p95)
        mid = x[(x >= p05) & (x <= p95)]
        r = got[flag]
        assert r["n"] == len(x)
        assert abs(r["mean_raw"] - np.round(x, 4).mean()) <= 1e-5
        assert abs(r["mean_winsorized"] - np.round(clamped, 4).mean()) <= 1e-5
        assert abs(r["mean_trimmed_90"] - np.round(mid, 4).mean()) <= 1e-5
        assert r["n_clamped_lo"] == int((x < p05).sum())
        assert r["n_clamped_hi"] == int((x > p95).sum())


def test_bot_heuristics_matches_python_features(spark):
    """ev_bot_heuristics: per-user rate/CV features and the 2x2 flag
    census must match a direct Python gap pass."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.events import (
        BOT_CV_MAX,
        BOT_RATE_PER_MIN,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ev_bot_heuristics"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    q6 = Decimal("1e-6")
    cells = {}
    for u, g in ev.groupby("user_id", sort=False):
        ts = np.array([t.value // 1000 for t in g["ts"]], dtype=np.int64)
        gaps = np.diff(ts).astype(float)
        if len(gaps) < 5 or gaps.sum() <= 0:
            continue
        span = gaps.sum()
        rate = (len(gaps) + 1) * 60000000.0 / span
        mean_gap = span / len(gaps)
        m2 = (gaps * gaps).sum() / len(gaps)
        cv = np.sqrt(max(m2 - mean_gap**2, 0.0)) / mean_gap
        key = (
            1 if rate > BOT_RATE_PER_MIN else 0,
            1 if cv < BOT_CV_MAX else 0,
        )
        c = cells.setdefault(key, [0, None, Decimal(0), Decimal(0)])
        c[0] += 1
        c[1] = u if c[1] is None else min(c[1], u)
        c[2] += Decimal(repr(round(rate, 6))).quantize(q6, ROUND_HALF_UP)
        c[3] += Decimal(repr(round(cv, 6))).quantize(q6, ROUND_HALF_UP)
    assert {(r["f_rate"], r["f_regular"]) for r in rows} == set(cells)
    for r in rows:
        n, ex, sr, sc = cells[(r["f_rate"], r["f_regular"])]
        assert r["n_users"] == n and r["example_user"] == ex
        assert abs(r["mean_rate"] - round(float(sr) / n, 4)) <= 1e-6
        assert abs(r["mean_cv"] - round(float(sc) / n, 4)) <= 1e-6


def test_burstiness_matches_numpy(spark):
    """ev_interpurchase_burstiness: the CV and the share-under-threshold
    rungs must match a direct numpy pass over per-user purchase gaps."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = (
        load_all()["ev_interpurchase_burstiness"].spark_fn(spark, sf).collect()[0]
    )

    ev = _pd("events", sf)
    ev = ev[ev["event_type"] == "purchase"].sort_values(
        ["user_id", "ts", "event_id"]
    )
    gaps = []
    for _, g in ev.groupby("user_id", sort=False):
        ts = [t.value // 1000 for t in g["ts"]]
        gaps.extend(
            round((b - a) / 3600000000.0, 6) for a, b in zip(ts, ts[1:])
        )
    gaps = np.array(gaps)
    mu = gaps.mean()
    sd = gaps.std(ddof=0)
    assert row["n_gaps"] == len(gaps)
    assert abs(row["mean_gap_h"] - mu) <= 1e-4
    assert abs(row["sd_gap_h"] - sd) <= 1e-4
    assert abs(row["cv"] - sd / mu) <= 1e-4
    for thr, col in ((12, "pct_lt_12h"), (24, "pct_lt_24h"), (48, "pct_lt_48h")):
        assert abs(row[col] - round((gaps < thr).mean(), 4)) <= 1e-9


def test_conversion_window_sensitivity_matches_python(spark):
    """ev_conversion_window_sensitivity: each rung must match a Python
    first-signup → first-later-purchase sweep."""
    from mcp_rag_server_spark.operators.events import CONV_WINDOWS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["window_label"]: r
        for r in load_all()["ev_conversion_window_sensitivity"]
        .spark_fn(spark, sf)
        .collect()
    }

    ev = _pd("events", sf)
    s_ts, p_ts = {}, {}
    for r in ev.itertuples(index=False):
        t = r.ts.value // 1000
        if r.event_type == "signup":
            if r.user_id not in s_ts or t < s_ts[r.user_id]:
                s_ts[r.user_id] = t
    for r in ev.itertuples(index=False):
        t = r.ts.value // 1000
        if (
            r.event_type == "purchase"
            and r.user_id in s_ts
            and t > s_ts[r.user_id]
        ):
            if r.user_id not in p_ts or t < p_ts[r.user_id]:
                p_ts[r.user_id] = t
    for lab, hours in CONV_WINDOWS:
        conv = sum(
            1
            for u, st in s_ts.items()
            if u in p_ts and p_ts[u] - st <= hours * 3600000000
        )
        r = got[lab]
        assert r["window_hours"] == hours
        assert r["n_eligible"] == len(s_ts)
        assert r["n_converted"] == conv, (lab, r["n_converted"], conv)
        assert abs(r["conversion_rate"] - round(conv / len(s_ts), 4)) <= 1e-9


def test_mode_per_group_matches_python_counter(spark):
    """agg_mode_per_group: the spelled-out mode/runner-up under the
    (n DESC, qty ASC) total order must match a Python Counter."""
    from collections import Counter

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: r
        for r in load_all()["agg_mode_per_group"].spark_fn(spark, sf).collect()
    }

    li = _pd("lineitem", sf)
    for flag, g in li.groupby("l_returnflag"):
        counts = Counter(int(q) for q in g["l_quantity"])
        order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (q1, n1), (q2, n2) = order[0], order[1]
        r = got[flag]
        assert r["mode_qty"] == q1 and r["mode_count"] == n1
        assert r["second_mode_qty"] == q2 and r["second_mode_count"] == n2
        assert (
            abs(r["mode_share_pct"] - round(n1 * 100.0 / len(g), 6)) <= 1e-6
        )


def test_url_canonicalize_matches_python_urls(spark):
    """dd_url_canonicalize: synthesize the same raw URLs in Python,
    canonicalize with Python string ops (no regex), and compare the
    per-source merge census exactly."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["dd_url_canonicalize"].spark_fn(spark, sf).collect()
    }

    docs = _pd("documents", sf)
    per = {}
    for r in docs.itertuples(index=False):
        page = (r.doc_id // 7) % 13
        host = r.source.upper() if r.doc_id % 3 == 0 else r.source
        suffix = {0: "?utm_source=news", 1: "/", 2: "#section-2"}.get(
            r.doc_id % 5, ""
        )
        raw = f"https://{host}.Example.COM/page/{page}{suffix}"
        canon = raw.lower()
        if "#" in canon:
            canon = canon[: canon.index("#")]
        if "?utm_" in canon:
            canon = canon[: canon.index("?utm_")]
        if canon.endswith("/") and not canon.endswith("//"):
            canon = canon[:-1]
        cell = per.setdefault(r.source, [0, set(), set()])
        cell[0] += 1
        cell[1].add(raw)
        cell[2].add(canon)
    assert set(got) == set(per)
    for src, (n, raws, canons) in per.items():
        r = got[src]
        assert r["n_docs"] == n
        assert r["n_raw_urls"] == len(raws)
        assert r["n_canonical_urls"] == len(canons), (src, sorted(canons))
        assert r["n_variants_merged"] == len(raws) - len(canons)
        assert r["n_docs_removable"] == n - len(canons)
        assert (
            abs(r["dedup_rate_pct"] - round((n - len(canons)) * 100.0 / n, 6))
            <= 1e-6
        )


def test_dq_expectations_match_pandas(spark):
    """dq_expectations_audit: every violation COUNT must match a pandas
    recomputation — including the deliberately-failing frequency cap
    (the suite must exercise a real failure path, not hash an all-green
    table). sf0.01: the cap is tuned to fail there (the sf0.001 max is
    exactly at the cap, all-green)."""
    from mcp_rag_server_spark.operators.dataquality import (
        DQ_MAX_ORDERS_PER_CUSTOMER,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.01"
    got = {
        r["check_name"]: r
        for r in load_all()["dq_expectations_audit"].spark_fn(spark, sf).collect()
    }

    orders = _pd("orders", sf)
    li = _pd("lineitem", sf)
    ev = _pd("events", sf)
    docs = _pd("documents", sf)
    want = {
        "o_totalprice_positive": (
            len(orders),
            int((orders["o_totalprice"] <= 0).sum()),
        ),
        "l_quantity_in_1_50": (
            len(li),
            int(((li["l_quantity"] < 1) | (li["l_quantity"] > 50)).sum()),
        ),
        "event_type_accepted": (
            len(ev),
            int(
                (~ev["event_type"].isin(
                    ["click", "error", "purchase", "signup", "view"]
                )).sum()
            ),
        ),
        "o_orderkey_unique": (
            len(orders),
            len(orders) - orders["o_orderkey"].nunique(),
        ),
        "lineitem_orderkey_fk": (
            len(li),
            int((~li["l_orderkey"].isin(set(orders["o_orderkey"]))).sum()),
        ),
        "n_chars_matches_text": (
            len(docs),
            int((docs["n_chars"] != docs["text"].str.len()).sum()),
        ),
        f"orders_per_customer_le_{DQ_MAX_ORDERS_PER_CUSTOMER}": (
            orders["o_custkey"].nunique(),
            int(
                (
                    orders.groupby("o_custkey").size()
                    > DQ_MAX_ORDERS_PER_CUSTOMER
                ).sum()
            ),
        ),
    }
    assert set(got) == set(want)
    at_least_one_failure = False
    for name, (n_rows, n_viol) in want.items():
        r = got[name]
        assert r["n_rows"] == n_rows, (name, r["n_rows"], n_rows)
        assert r["n_violations"] == n_viol, (name, r["n_violations"], n_viol)
        assert r["passed"] == (n_viol == 0)
        at_least_one_failure |= n_viol > 0
    assert at_least_one_failure, "suite must exercise a failing check"


def _py_minhash(sf):
    """Plain-Python twin of the MinHash machinery (dedup.py constants):
    per doc — 32-bit md5 token hashes, rolling 3-token shingle values,
    8 permuted minima, 2 band keys. Returns (sigs, bands, shingles,
    toksets, sources): dicts keyed by doc_id. Docs with <3 tokens have
    no signature (no complete shingle)."""
    import hashlib

    from mcp_rag_server_spark.operators.dedup import (
        MH_A,
        MH_B,
        MH_P,
        N_BANDS,
        N_MINHASH,
        SHINGLE_C,
    )

    c0, c1, c2 = SHINGLE_C
    rows_per_band = N_MINHASH // N_BANDS
    sigs, bands, shingles, toksets, sources = {}, {}, {}, {}, {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        toksets[r.doc_id] = frozenset(toks)
        sources[r.doc_id] = r.source
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks
        ]
        vs = [
            (hs[i] * c0 + hs[i + 1] * c1 + hs[i + 2] * c2) % MH_P
            for i in range(len(hs) - 2)
        ]
        if not vs:
            continue
        shingles[r.doc_id] = frozenset(vs)
        sig = [
            min((MH_A[j] * v + MH_B[j]) % MH_P for v in vs)
            for j in range(N_MINHASH)
        ]
        sigs[r.doc_id] = sig
        bands[r.doc_id] = [
            hashlib.md5(
                "|".join(
                    str(sig[b * rows_per_band + k])
                    for k in range(rows_per_band)
                ).encode()
            ).hexdigest()
            for b in range(N_BANDS)
        ]
    return sigs, bands, shingles, toksets, sources


def _py_lsh_candidates(bands):
    """Distinct (a, b) a<b sharing at least one band bucket."""
    from collections import defaultdict

    buckets = defaultdict(list)
    for d, bs in bands.items():
        for i, b in enumerate(bs):
            buckets[(i, b)].append(d)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                cand.add((a, b))
    return cand


def test_minhash_est_audit_matches_python(spark):
    """dd_minhash_est_audit: per candidate pair, the signature-
    agreement estimate and the exact shingle Jaccard must match the
    Python twin row for row."""
    from mcp_rag_server_spark.operators.dedup import N_MINHASH
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_minhash_est_audit"].spark_fn(spark, sf).collect()

    sigs, bands, shingles, _, _ = _py_minhash(sf)
    cand = _py_lsh_candidates(bands)
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == cand
    for r in rows:
        a, b = r["doc_a"], r["doc_b"]
        est = (
            sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / N_MINHASH
        )
        sa, sb = shingles[a], shingles[b]
        exact = len(sa & sb) / len(sa | sb)
        assert abs(r["est_jaccard"] - est) <= 1e-9, (a, b)
        assert abs(r["exact_jaccard"] - exact) <= 1e-6
        assert abs(r["abs_err"] - round(abs(est - exact), 4)) <= 1e-3


def test_minhash_bbit_audit_matches_python(spark):
    """dd_minhash_bbit_audit: the 1-bit estimator 2a−1 (clamped) and
    the full-agreement estimate must match the Python signatures."""
    from mcp_rag_server_spark.operators.dedup import N_MINHASH
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_minhash_bbit_audit"].spark_fn(spark, sf).collect()

    sigs, bands, _, _, _ = _py_minhash(sf)
    cand = _py_lsh_candidates(bands)
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == cand
    for r in rows:
        a, b = r["doc_a"], r["doc_b"]
        full = (
            sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / N_MINHASH
        )
        bit = (
            sum(1 for x, y in zip(sigs[a], sigs[b]) if x % 2 == y % 2)
            / N_MINHASH
        )
        est1 = max(0.0, 2 * bit - 1)
        assert abs(r["est_full"] - full) <= 1e-9
        assert abs(r["est_1bit"] - est1) <= 1e-9
        assert abs(r["abs_gap"] - abs(full - est1)) <= 1e-6


def test_threshold_sweep_matches_python(spark):
    """dd_threshold_sweep: every operating point (edges, affected docs,
    greedy-removable, rate) must match the Python candidate verify."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_threshold_sweep"].spark_fn(spark, sf).collect()

    _, bands, _, toksets, _ = _py_minhash(sf)
    cand = _py_lsh_candidates(bands)
    verified = []
    for a, b in cand:
        ta, tb = toksets[a], toksets[b]
        verified.append((a, b, len(ta & tb) / len(ta | tb)))
    n_docs_total = len(_pd("documents", sf))
    for r in rows:
        thr = float(r["threshold"])
        edges = [(a, b) for a, b, j in verified if round(j, 6) >= thr]
        docs = {d for e in edges for d in e}
        removable = {b for _, b in edges}
        assert r["n_edges"] == len(edges), (thr, r["n_edges"], len(edges))
        assert r["n_docs_in_pairs"] == len(docs)
        assert r["n_removable"] == len(removable)
        assert (
            abs(
                r["dedup_rate_pct"]
                - round(len(removable) * 100.0 / n_docs_total, 6)
            )
            <= 1e-6
        )


def test_cluster_size_hist_matches_union_find(spark):
    """dd_cluster_size_hist: the component-size histogram must match a
    Python union-find over the same-source ≥0.9 verified edges — the
    independent-algorithm rule for connected components."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_cluster_size_hist"].spark_fn(spark, sf).collect()

    _, bands, _, toksets, sources = _py_minhash(sf)
    cand = _py_lsh_candidates(bands)
    docs = list(_pd("documents", sf)["doc_id"])
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        if sources[a] != sources[b]:
            continue
        ta, tb = toksets[a], toksets[b]
        if len(ta & tb) / len(ta | tb) >= 0.9:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter

    sizes = Counter(Counter(find(d) for d in docs).values())
    assert {r["cluster_size"] for r in rows} == set(sizes)
    for r in rows:
        k, n = r["cluster_size"], sizes[r["cluster_size"]]
        assert r["n_clusters"] == n
        assert r["n_docs"] == k * n
        assert r["docs_removable"] == (k - 1) * n
    # mass conservation: every doc is in exactly one cluster
    assert sum(r["n_docs"] for r in rows) == len(docs)


def test_graph_degree_stats_match_numpy(spark):
    """dd_graph_degree_stats: degrees and Newman assortativity over the
    unblocked ≥0.9 near-dup graph must match np.corrcoef over both
    edge orientations."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["dd_graph_degree_stats"].spark_fn(spark, sf).collect()[0]

    _, bands, _, toksets, _ = _py_minhash(sf)
    cand = _py_lsh_candidates(bands)
    edges = [
        (a, b)
        for a, b in cand
        if len(toksets[a] & toksets[b]) / len(toksets[a] | toksets[b]) >= 0.9
    ]
    from collections import Counter

    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    du = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    dv = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    r_assort = np.corrcoef(du, dv)[0, 1]
    assert row["n_nodes"] == len(deg)
    assert row["n_edges"] == len(edges)
    assert abs(row["mean_degree"] - sum(deg.values()) / len(deg)) <= 1e-6
    assert row["max_degree"] == max(deg.values())
    assert abs(row["assortativity_r"] - r_assort) <= 1e-5


def test_soft_dedup_weights_match_union_find(spark):
    """dd_soft_dedup_weights: per-source effective doc/char mass under
    1/cluster_size weights must match the Python union-find components
    — and total effective_docs must equal the number of components
    touching each source's docs summed fractionally (mass identity)."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_soft_dedup_weights"].spark_fn(spark, sf).collect()

    _, bands, _, toksets, sources = _py_minhash(sf)
    docs_pd = _pd("documents", sf)
    docs = list(docs_pd["doc_id"])
    n_chars = dict(zip(docs_pd["doc_id"], docs_pd["n_chars"]))
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _py_lsh_candidates(bands):
        if sources[a] != sources[b]:
            continue
        if (
            len(toksets[a] & toksets[b]) / len(toksets[a] | toksets[b])
            >= 0.9
        ):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter

    comp = {d: find(d) for d in docs}
    size = Counter(comp.values())
    q8 = Decimal("1e-8")
    per = {}
    src_of = dict(zip(docs_pd["doc_id"], docs_pd["source"]))
    for d in docs:
        k = size[comp[d]]
        w = Decimal(repr(round(1.0 / k, 8))).quantize(q8, ROUND_HALF_UP)
        cell = per.setdefault(src_of[d], [0, 0, Decimal(0), Decimal(0)])
        cell[0] += 1
        cell[1] += 1 if k > 1 else 0
        cell[2] += w
        cell[3] += w * n_chars[d]
    assert {r["source"] for r in rows} == set(per)
    for r in rows:
        n, dup, ed, ec = per[r["source"]]
        assert r["n_docs"] == n and r["n_dup_docs"] == dup
        assert abs(r["effective_docs"] - round(float(ed), 4)) <= 1e-4
        assert abs(r["effective_chars"] - round(float(ec), 4)) <= 1e-2


def test_cross_source_matrix_matches_python(spark):
    """dd_cross_source_matrix: the cross-source ≥0.9 census must match
    the Python candidate verify, cell by cell."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_cross_source_matrix"].spark_fn(spark, sf).collect()

    _, bands, _, toksets, sources = _py_minhash(sf)
    cells = {}
    for a, b in _py_lsh_candidates(bands):
        if sources[a] == sources[b]:
            continue
        j = len(toksets[a] & toksets[b]) / len(toksets[a] | toksets[b])
        if j < 0.9:
            continue
        key = tuple(sorted((sources[a], sources[b])))
        c = cells.setdefault(key, [0, 0.0])
        c[0] += 1
        c[1] = max(c[1], j)
    assert {(r["source_a"], r["source_b"]) for r in rows} == set(cells)
    for r in rows:
        n, mx = cells[(r["source_a"], r["source_b"])]
        assert r["n_pairs"] == n
        assert abs(r["max_jaccard"] - mx) <= 1e-6


def test_cm_sketch_audit_matches_python(spark):
    """agg_cm_sketch_audit: build the same d×w counter table in Python
    dicts, probe the same exact top-10, compare estimates and the
    never-underestimates guarantee."""
    from collections import Counter

    from mcp_rag_server_spark.operators.sketches import CM_D, CM_TOP, CM_W
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["agg_cm_sketch_audit"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    exact = Counter(ev["user_id"])
    cm = [Counter() for _ in range(CM_D)]
    for u, n in exact.items():
        for j in range(CM_D):
            cm[j][_md5_fold(f"cm{j}:{u}") % CM_W] += n
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CM_TOP]
    assert [(r["user_id"], r["n_exact"]) for r in rows] == top
    for r in rows:
        est = min(
            cm[j][_md5_fold(f"cm{j}:{r['user_id']}") % CM_W]
            for j in range(CM_D)
        )
        assert r["cm_est"] == est
        assert r["overestimate"] == est - r["n_exact"]
        assert r["never_underestimates"] == (est >= r["n_exact"])
        assert r["never_underestimates"]  # the CM guarantee itself


def test_kmv_distinct_audit_matches_python(spark):
    """agg_kmv_distinct_audit: Python KMV sketches (k smallest md5
    folds per type) must reproduce every union/Jaccard/intersection
    estimate AND the exact answers."""
    from mcp_rag_server_spark.operators.sketches import KMV_K
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["agg_kmv_distinct_audit"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    users = {}
    for r in ev.itertuples(index=False):
        users.setdefault(r.event_type, set()).add(r.user_id)
    hv = {
        t: sorted(_md5_fold(f"kmv:{u}") for u in us)
        for t, us in users.items()
    }
    sk = {t: set(h[:KMV_K]) for t, h in hv.items()}
    for r in rows:
        a, b = r["type_a"], r["type_b"]
        assert r["n_a"] == len(users[a]) and r["n_b"] == len(users[b])
        assert r["n_union_exact"] == len(users[a] | users[b])
        assert r["n_inter_exact"] == len(users[a] & users[b])
        upto = sorted(sk[a] | sk[b])[:KMV_K]
        ku = len(upto)
        est_union = (
            float(ku)
            if ku < KMV_K
            else (KMV_K - 1) / (max(upto) / 4294967296.0)
        )
        n_both = sum(1 for h in upto if h in sk[a] and h in sk[b])
        assert abs(r["est_union"] - round(est_union, 1)) <= 0.11
        assert abs(r["est_jaccard"] - round(n_both / ku, 4)) <= 1e-9
        assert abs(r["est_inter"] - round(n_both / ku * est_union, 1)) <= 0.11


def test_join_cardinality_audit_matches_python(spark):
    """agg_join_cardinality_audit: the uniform estimator and the exact
    Σ ca·cb join sizes must match Python Counters."""
    from collections import Counter

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["join_name"]: r
        for r in load_all()["agg_join_cardinality_audit"]
        .spark_fn(spark, sf)
        .collect()
    }

    orders = _pd("orders", sf)
    customer = _pd("customer", sf)
    li = _pd("lineitem", sf)
    cases = {
        "orders_customer": (orders["o_custkey"], customer["c_custkey"]),
        "lineitem_orders": (li["l_orderkey"], orders["o_orderkey"]),
        "orders_self_custkey": (orders["o_custkey"], orders["o_custkey"]),
    }
    assert set(got) == set(cases)
    for name, (ka, kb) in cases.items():
        ca, cb = Counter(ka), Counter(kb)
        true_rows = sum(n * cb.get(k, 0) for k, n in ca.items())
        est = len(ka) * len(kb) / max(len(ca), len(cb))
        r = got[name]
        assert r["rows_a"] == len(ka) and r["rows_b"] == len(kb)
        assert r["ndv_a"] == len(ca) and r["ndv_b"] == len(cb)
        assert r["true_rows"] == true_rows
        assert abs(r["est_uniform"] - round(est, 2)) <= 1e-2
        assert abs(r["err_ratio"] - round(true_rows / est, 4)) <= 1e-4


def test_welch_ttest_matches_numpy(spark):
    """ev_welch_ttest: t statistic and Welch–Satterthwaite df must
    match numpy ddof=1 variances over the same md5-parity arms."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r
        for r in load_all()["ev_welch_ttest"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    arm_b = np.array([_md5_fold(f"arm:{u}") % 2 == 1 for u in ev["user_id"]])
    v = np.round(ev["value"].to_numpy(float), 4)
    et = ev["event_type"].to_numpy()
    for t in sorted(set(et)):
        a, b = v[(et == t) & ~arm_b], v[(et == t) & arm_b]
        va, vb = a.var(ddof=1), b.var(ddof=1)
        se2 = va / len(a) + vb / len(b)
        t_stat = (a.mean() - b.mean()) / np.sqrt(se2)
        df = se2**2 / (
            (va / len(a)) ** 2 / (len(a) - 1)
            + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        r = got[t]
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        assert abs(r["mean_diff"] - (a.mean() - b.mean())) <= 1e-5
        assert abs(r["t_stat"] - t_stat) <= 1e-3
        assert abs(r["df_welch"] - df) <= 0.02
        assert r["reject_95"] == (abs(t_stat) > 1.96)


def test_readability_fk_matches_python_regex(spark):
    """ta_readability_fk: the FK grade from Python re.findall counts
    must match per language (same vowel-group heuristic)."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["lang"]: r
        for r in load_all()["ta_readability_fk"].spark_fn(spark, sf).collect()
    }

    q4 = Decimal("0.0001")
    per = {}
    for r in _pd("documents", sf).itertuples(index=False):
        w = len(re.findall(r"[^ ]+", r.text))
        syl = len(re.findall(r"[aeiouyAEIOUY]+", r.text))
        sen = max(len(re.findall(r"[.!?]", r.text)), 1)
        fk = round(0.39 * (w / sen) + 11.8 * (syl / w) - 15.59, 4)
        cell = per.setdefault(r.lang, [0, Decimal(0), None, None])
        cell[0] += 1
        cell[1] += Decimal(repr(fk)).quantize(q4, ROUND_HALF_UP)
        cell[2] = fk if cell[2] is None else min(cell[2], fk)
        cell[3] = fk if cell[3] is None else max(cell[3], fk)
    assert set(got) == set(per)
    for lang, (n, s, mn, mx) in per.items():
        r = got[lang]
        assert r["n_docs"] == n
        assert abs(r["avg_grade"] - round(float(s) / n, 4)) <= 1e-4
        assert abs(r["min_grade"] - mn) <= 1e-9
        assert abs(r["max_grade"] - mx) <= 1e-9


def test_kl_source_drift_matches_python(spark):
    """ta_kl_source_drift: KL(P_source || P_corpus) must match a
    Counter-based plug-in computation."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_kl_source_drift"].spark_fn(spark, sf).collect()
    }

    from collections import Counter

    corpus = Counter()
    per_src = {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        corpus.update(toks)
        per_src.setdefault(r.source, Counter()).update(toks)
    n = sum(corpus.values())
    for src, cnt in per_src.items():
        ns = sum(cnt.values())
        kl = sum(
            (c / ns) * np.log((c / ns) / (corpus[t] / n))
            for t, c in cnt.items()
        )
        r = got[src]
        assert r["n_tokens"] == ns
        assert r["n_distinct"] == len(cnt)
        assert abs(r["kl_divergence"] - kl) <= 1e-5, (src, r, kl)
        assert r["kl_divergence"] >= 0  # Gibbs' inequality


def test_pmi_collocations_match_python(spark):
    """ta_pmi_collocations: the PMI top-20 under the (pmi DESC, w1, w2)
    total order must match a Counter recomputation."""
    import numpy as np

    from mcp_rag_server_spark.operators.textanalysis import (
        PMI_MIN_COUNT,
        PMI_TOP_N,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ta_pmi_collocations"].spark_fn(spark, sf).collect()

    from collections import Counter

    bg = Counter()
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        bg.update(zip(toks, toks[1:]))
    m1, m2 = Counter(), Counter()
    for (a, b), c in bg.items():
        m1[a] += c
        m2[b] += c
    n = sum(bg.values())
    scored = [
        (round(float(np.log(n * c / (m1[a] * m2[b]))), 6), a, b, c)
        for (a, b), c in bg.items()
        if c >= PMI_MIN_COUNT
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = scored[:PMI_TOP_N]
    assert len(rows) == len(want)
    for r, (pmi, a, b, c) in zip(rows, want):
        assert (r["w1"], r["w2"], r["c_xy"]) == (a, b, c)
        assert abs(r["pmi"] - pmi) <= 1e-6


def test_binary_hamming_topk_matches_python(spark):
    """sim_binary_hamming_topk: Python sign-bit packing + popcount must
    reproduce the exact Hamming top-k."""
    from mcp_rag_server_spark.operators.late_interaction import (
        HAM_QUERY_ID,
        HAM_TOP_K,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = (
        load_all()["sim_binary_hamming_topk"].spark_fn(spark, sf).collect()
    )

    emb = _pd("embeddings", sf)
    codes = {}
    for r in emb.itertuples(index=False):
        bits = 0
        for i, x in enumerate(r.embedding):
            if float(x) > 0:
                bits |= 1 << i
        codes[r.vec_id] = bits
    qc = codes[HAM_QUERY_ID]
    scored = sorted(
        ((bin(c ^ qc).count("1"), v) for v, c in codes.items()
         if v != HAM_QUERY_ID)
    )
    want = scored[:HAM_TOP_K]
    assert [(r["hamming"], r["vec_id"]) for r in rows] == want


def test_ndcg_sq8_matches_python(spark):
    """sim_ndcg_sq8_eval: Python SQ8 quantization + ordered-fold cosine
    + explicit DCG with the literal discounts must reproduce every
    per-query nDCG row."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.similarity import (
        NDCG_DISCOUNTS,
        NDCG_K,
        NDCG_QUERIES,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["sim_ndcg_sq8_eval"].spark_fn(spark, sf).collect()

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]), dtype=np.float32)
    pos = {v: i for i, v in enumerate(ids)}

    def fold_cos(a, b):
        dot = na = nb = 0.0
        for k in range(len(a)):
            x, y = float(a[k]), float(b[k])
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (np.sqrt(na) * np.sqrt(nb) + 1e-10)

    q0 = Decimal("1")
    dq = {}
    for v in ids:
        x = E[pos[v]]
        mn, mx = float(x.min()), float(x.max())
        sc = (mx - mn) / 255.0
        if sc == 0:
            dq[v] = [mn] * len(x)
        else:
            dq[v] = [
                mn
                + float(
                    Decimal(repr((float(e) - mn) / sc)).quantize(
                        q0, ROUND_HALF_UP
                    )
                )
                * sc
                for e in x
            ]
    got = {r["q_id"]: r for r in rows}
    q8 = Decimal("1e-8")
    for q_id in range(NDCG_QUERIES):
        qv = E[pos[q_id]]
        cand = []
        for v in ids:
            if v == q_id:
                continue
            approx = round(fold_cos(dq[v], qv), 4)
            gain = round(fold_cos(E[pos[v]], qv), 4) + 1
            cand.append((v, approx, gain))
        r_approx = sorted(cand, key=lambda t: (-t[1], t[0]))
        r_ideal = sorted(cand, key=lambda t: (-t[2], t[0]))
        dcg = sum(
            (
                Decimal(repr(round(g * NDCG_DISCOUNTS[i], 8))).quantize(
                    q8, ROUND_HALF_UP
                )
                for i, (_, _, g) in enumerate(r_approx[:NDCG_K])
            ),
            Decimal(0),
        )
        idcg = sum(
            (
                Decimal(repr(round(g * NDCG_DISCOUNTS[i], 8))).quantize(
                    q8, ROUND_HALF_UP
                )
                for i, (_, _, g) in enumerate(r_ideal[:NDCG_K])
            ),
            Decimal(0),
        )
        r = got[q_id]
        assert abs(r["dcg_at_k"] - round(float(dcg), 6)) <= 1e-5
        assert abs(r["idcg_at_k"] - round(float(idcg), 6)) <= 1e-5
        assert abs(r["ndcg_at_k"] - float(dcg) / float(idcg)) <= 1e-4
        assert r["ndcg_at_k"] <= 1.0 + 1e-9  # ideal ranking is optimal


def _py_p_keep(n_tokens, distinct_ratio, mean_wordlen_raw):
    """The fixed-weight logistic scorer, replicated (quality.py LR_*)."""
    import numpy as np

    from mcp_rag_server_spark.operators.quality import (
        LR_W0,
        LR_W_DIV,
        LR_W_TOK,
        LR_W_WLEN,
    )

    z = (
        LR_W0
        + LR_W_TOK * (n_tokens / 100)
        + LR_W_DIV * distinct_ratio
        + LR_W_WLEN * (mean_wordlen_raw / 10)
    )
    return round(1.0 / (1.0 + np.exp(-z)), 6)


def test_logreg_quality_matches_python(spark):
    """ta_logreg_quality: per-source keep rates from the Python sigmoid
    must match (rounded-6 transcendental discipline)."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.quality import LR_THRESHOLD
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_logreg_quality"].spark_fn(spark, sf).collect()
    }

    q6 = Decimal("1e-6")
    per = {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        nt = len(toks)
        p = _py_p_keep(nt, len(set(toks)) / nt, r.n_chars / nt)
        cell = per.setdefault(r.source, [0, Decimal(0), 0])
        cell[0] += 1
        cell[1] += Decimal(repr(p)).quantize(q6, ROUND_HALF_UP)
        cell[2] += 1 if p >= LR_THRESHOLD else 0
    assert set(got) == set(per)
    for src, (n, s, kept) in per.items():
        r = got[src]
        assert r["n_docs"] == n
        assert abs(r["mean_p_keep"] - round(float(s) / n, 6)) <= 1e-6
        assert r["n_kept"] == kept


def test_quality_calibration_matches_python(spark):
    """ta_quality_calibration: the per-bucket gopher-pass rates must
    match the Python rule battery + sigmoid buckets."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.quality import (
        RULE_MAX_MEAN_WORDLEN,
        RULE_MAX_TOKENS,
        RULE_MIN_DISTINCT_RATIO,
        RULE_MIN_MEAN_WORDLEN,
        RULE_MIN_TOKENS,
        STOPWORDS,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["score_bucket"]: r
        for r in load_all()["ta_quality_calibration"]
        .spark_fn(spark, sf)
        .collect()
    }

    sw = set(STOPWORDS)
    q6 = Decimal("1e-6")
    cells = {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        nt = len(toks)
        dr = len(set(toks)) / nt
        mw = (r.n_chars - nt + 1) / nt
        n_stop = sum(1 for t in toks if t in sw)
        label = (
            1
            if (
                RULE_MIN_TOKENS <= nt <= RULE_MAX_TOKENS
                and RULE_MIN_MEAN_WORDLEN <= mw <= RULE_MAX_MEAN_WORDLEN
                and dr >= RULE_MIN_DISTINCT_RATIO
                and n_stop > 0
            )
            else 0
        )
        p = _py_p_keep(nt, dr, r.n_chars / nt)
        bucket = min(math.floor(p * 5), 4)
        cell = cells.setdefault(bucket, [0, 0, Decimal(0)])
        cell[0] += 1
        cell[1] += label
        cell[2] += Decimal(repr(p)).quantize(q6, ROUND_HALF_UP)
    assert set(got) == set(cells)
    for b, (n, npass, sp) in cells.items():
        r = got[b]
        assert r["n_docs"] == n and r["n_gopher_pass"] == npass
        assert abs(r["gopher_pass_rate"] - round(npass / n, 4)) <= 1e-9
        assert abs(r["mean_p_keep"] - round(float(sp) / n, 6)) <= 1e-6


def test_set_all_multiplicity_matches_counters(spark):
    """set_all_multiplicity: EXCEPT ALL / INTERSECT ALL bag semantics
    must match Python Counter subtraction/intersection exactly."""
    from collections import Counter

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["op"]: r
        for r in load_all()["set_all_multiplicity"].spark_fn(spark, sf).collect()
    }

    li = _pd("lineitem", sf)
    r_side = Counter(li[li["l_returnflag"] == "R"]["l_suppkey"])
    a_side = Counter(li[li["l_returnflag"] == "A"]["l_suppkey"])
    exc = r_side - a_side
    inter = r_side & a_side
    for op, bag in (("except_all", exc), ("intersect_all", inter)):
        r = got[op]
        assert r["n_rows"] == sum(bag.values()), (op, r["n_rows"])
        assert r["n_keys"] == len(bag)
        assert r["min_key"] == min(bag) and r["max_key"] == max(bag)


def test_value_frames_match_python_slices(spark):
    """window_value_frames: first/last/nth over the ±3 frame and the
    running/remaining extrema must match explicit list slices."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["window_value_frames"].spark_fn(spark, sf).collect()

    o = _pd("orders", sf)
    want = {}
    for pri, g in o.groupby("o_orderpriority"):
        recs = sorted(
            zip(g["o_totalprice"], g["o_orderkey"]),
        )
        prices = [p for p, _ in recs]
        keys = [k for _, k in recs]
        n = len(recs)
        for i in range(n):
            lo, hi = max(0, i - 3), min(n, i + 4)
            frame = prices[lo:hi]
            want[(pri, keys[i])] = (
                frame[0],
                frame[-1],
                frame[1] if len(frame) >= 2 else None,
                min(keys[: i + 1]),
                max(keys[i:]),
            )
    assert len(rows) > 0
    for r in rows:
        ff, fl, fs, rmin, rmax = want[(r["o_orderpriority"], r["o_orderkey"])]
        assert r["frame_first"] == ff and r["frame_last"] == fl
        assert r["frame_second"] == fs
        assert r["run_min_key"] == rmin
        assert r["rem_max_key"] == rmax


def test_lateral_topn_matches_python(spark):
    """sql_lateral_topn: the decorrelated LATERAL must equal an explicit
    per-customer top-2 sort."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["sql_lateral_topn"].spark_fn(spark, sf).collect()

    o = _pd("orders", sf)
    c = _pd("customer", sf)
    by_cust = {}
    for r in o.itertuples(index=False):
        by_cust.setdefault(r.o_custkey, []).append(
            (-r.o_totalprice, r.o_orderkey)
        )
    want = []
    for r in sorted(
        c[c["c_custkey"] % 10 == 0].itertuples(index=False),
        key=lambda t: t.c_custkey,
    ):
        top = sorted(by_cust.get(r.c_custkey, []))[:2]
        for rk, (negp, key) in enumerate(top, start=1):
            want.append((r.c_custkey, key, -negp, rk))
    assert [
        (r["c_custkey"], r["o_orderkey"], r["o_totalprice"], r["rk"])
        for r in rows
    ] == want


def test_nearest_order_matches_python_bisect(spark):
    """tj_nearest_order: the two-window nearest must equal a bisect over
    each user's sorted order dates (tie toward the prior side)."""
    import bisect

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["tj_nearest_order"].spark_fn(spark, sf).collect()

    ev = _pd("events", sf)
    o = _pd("orders", sf)
    by_user = {}
    for r in o.itertuples(index=False):
        by_user.setdefault(r.o_custkey, []).append(r.o_orderdate)
    for v in by_user.values():
        v.sort()
    checked = 0
    for r in ev.itertuples(index=False):
        if r.event_id % 100 != 0:
            continue
        checked += 1
        dates = by_user.get(r.user_id, [])
        i = bisect.bisect_right(dates, r.ts)
        prior = dates[i - 1] if i > 0 else None
        nxt = dates[i] if i < len(dates) else None
        if prior is None:
            nearest = nxt
        elif nxt is None:
            nearest = prior
        else:
            dp = r.ts.value - prior.value
            dn = nxt.value - r.ts.value
            nearest = prior if dp <= dn else nxt
        row = next(x for x in rows if x["event_id"] == r.event_id)
        assert (row["prior_order"] is None) == (prior is None)
        if prior is not None:
            assert row["prior_order"] == prior
        assert (row["nearest_order"] is None) == (nearest is None)
        if nearest is not None:
            assert row["nearest_order"] == nearest
            gap_us = abs(r.ts.value - nearest.value) // 1000
            assert row["nearest_gap_s"] == gap_us // 1000000
    assert checked == len(rows) > 0


def test_running_distinct_matches_python(spark):
    """window_running_distinct: milestone times from an incremental
    Python set must match the first-occurrence window formulation."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.relational import RD_MILESTONES
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["milestone_distinct_types"]: r
        for r in load_all()["window_running_distinct"]
        .spark_fn(spark, sf)
        .collect()
    }

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    q4 = Decimal("0.0001")
    per_user = {}
    for u, g in ev.groupby("user_id", sort=False):
        seen = set()
        t0 = None
        tk = {}
        for r in g.itertuples(index=False):
            if t0 is None:
                t0 = r.ts
            seen.add(r.event_type)
            for k in RD_MILESTONES:
                if len(seen) >= k and k not in tk:
                    tk[k] = r.ts
        per_user[u] = (t0, tk)
    n_users = len(per_user)
    for k in RD_MILESTONES:
        reached = [
            (tk[k].value - t0.value) / 1000 / 60000000.0
            for t0, tk in per_user.values()
            if k in tk
        ]
        r = got[k]
        assert r["n_users"] == n_users
        assert r["n_reached"] == len(reached)
        if reached:
            mean = float(
                sum(
                    Decimal(repr(round(m, 4))).quantize(q4, ROUND_HALF_UP)
                    for m in reached
                )
            ) / len(reached)
            assert abs(r["mean_minutes_to_k"] - round(mean, 4)) <= 1e-4


def test_gains_chart_matches_python(spark):
    """ta_gains_chart: depth thresholds, capture rates, and lift must
    match an explicit Python sort of the bucketed scores."""
    import math

    from mcp_rag_server_spark.operators.quality import (
        AUC_SCORE_DECIMALS,
        GAINS_DEPTHS,
        RULE_MAX_MEAN_WORDLEN,
        RULE_MAX_TOKENS,
        RULE_MIN_DISTINCT_RATIO,
        RULE_MIN_MEAN_WORDLEN,
        RULE_MIN_TOKENS,
        STOPWORDS,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        float(r["depth"]): r
        for r in load_all()["ta_gains_chart"].spark_fn(spark, sf).collect()
    }

    sw = set(STOPWORDS)
    from collections import Counter

    buckets = {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        nt = len(toks)
        dr = len(set(toks)) / nt
        mw = (r.n_chars - nt + 1) / nt
        label = (
            1
            if (
                RULE_MIN_TOKENS <= nt <= RULE_MAX_TOKENS
                and RULE_MIN_MEAN_WORDLEN <= mw <= RULE_MAX_MEAN_WORDLEN
                and dr >= RULE_MIN_DISTINCT_RATIO
                and sum(1 for t in toks if t in sw) > 0
            )
            else 0
        )
        s = round(_py_p_keep(nt, dr, r.n_chars / nt), AUC_SCORE_DECIMALS)
        cell = buckets.setdefault(s, [0, 0])
        cell[0] += 1
        cell[1] += label
    order = sorted(buckets.items(), key=lambda kv: -kv[0])
    n_docs = sum(n for _, (n, _) in order)
    n_pos = sum(p for _, (_, p) in order)
    cum = []
    cn = cp = 0
    for s, (n, p) in order:
        cn += n
        cp += p
        cum.append((s, cn, cp))
    for depth in GAINS_DEPTHS:
        s, cn, cp = next(
            t for t in cum if t[1] >= depth * n_docs
        )
        r = got[depth]
        assert float(r["score_threshold"]) == s, (depth, r, s)
        assert r["n_selected"] == cn
        assert r["n_pos_captured"] == cp
        assert abs(r["share_selected"] - round(cn / n_docs, 4)) <= 1e-9
        assert abs(r["capture_rate"] - round(cp / n_pos, 4)) <= 1e-9
        assert abs(r["lift"] - round((cp / n_pos) / (cn / n_docs), 4)) <= 1e-3
    # gains curves never lose captured mass with depth
    depths = sorted(got)
    caps = [got[d]["capture_rate"] for d in depths]
    assert caps == sorted(caps)


def test_lang_confusion_matches_python(spark):
    """ta_lang_confusion: the lexicon-vote confusion cells must match a
    Python set-intersection replication."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ta_lang_confusion"].spark_fn(spark, sf).collect()

    en_lex = {"the", "a", "of", "value", "fast"}
    tech_lex = {"query", "data", "stream", "group", "filter"}
    cells = {}
    totals = {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = set(r.text.split(" "))
        pred = (
            "en-like"
            if len(toks & en_lex) >= len(toks & tech_lex)
            else "tech-like"
        )
        cells[(r.lang, pred)] = cells.get((r.lang, pred), 0) + 1
        totals[r.lang] = totals.get(r.lang, 0) + 1
    assert {(r["lang"], r["pred_class"]) for r in rows} == set(cells)
    for r in rows:
        n = cells[(r["lang"], r["pred_class"])]
        assert r["n"] == n
        assert r["lang_total"] == totals[r["lang"]]
        assert abs(r["row_frac"] - round(n / totals[r["lang"]], 4)) <= 1e-9


def test_length_drift_matches_python_ks(spark):
    """ta_length_drift: the per-source two-sample KS statistic (source
    vs REST of corpus over n_chars) must match a direct numpy ECDF
    comparison."""
    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_length_drift"].spark_fn(spark, sf).collect()
    }

    docs = _pd("documents", sf)
    all_v = docs["n_chars"].to_numpy()
    vals = np.unique(all_v)
    for src in sorted(set(docs["source"])):
        sv = docs[docs["source"] == src]["n_chars"].to_numpy()
        rv = docs[docs["source"] != src]["n_chars"].to_numpy()
        ks = max(
            abs((sv <= v).mean() - (rv <= v).mean()) for v in vals
        )
        crit = 1.36 * np.sqrt(len(all_v) / (len(sv) * len(rv)))
        r = got[src]
        assert r["n_src"] == len(sv) and r["n_rest"] == len(rv)
        assert abs(r["ks_d"] - ks) <= 1e-6, (src, r["ks_d"], ks)
        assert r["drifted_95"] == (ks > crit)


def test_centroid_drift_matches_python(spark):
    """sim_centroid_drift: even/odd-half centroid cosines per label
    must match a Decimal-exact Python recomputation."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["label"]: r
        for r in load_all()["sim_centroid_drift"].spark_fn(spark, sf).collect()
    }

    emb = _pd("embeddings", sf)
    q7, q8 = Decimal("1e-7"), Decimal("1e-8")
    cells = {}
    counts = {}
    for r in emb.itertuples(index=False):
        half = r.vec_id % 2
        lab = int(r.label)
        counts.setdefault(lab, [0, 0])[half] += 1
        for d, x in enumerate(r.embedding):
            key = (lab, half, d)
            s, n = cells.get(key, (Decimal(0), 0))
            cells[key] = (
                s + Decimal(repr(round(float(x), 7))).quantize(
                    q7, ROUND_HALF_UP
                ),
                n + 1,
            )
    for lab, (n0, n1) in counts.items():
        dot = na = nb = Decimal(0)
        for d in range(64):
            sa, ca_n = cells[(lab, 0, d)]
            sb, cb_n = cells[(lab, 1, d)]
            ca = float(sa) / ca_n
            cb = float(sb) / cb_n
            dot += Decimal(repr(round(ca * cb, 8))).quantize(q8, ROUND_HALF_UP)
            na += Decimal(repr(round(ca * ca, 8))).quantize(q8, ROUND_HALF_UP)
            nb += Decimal(repr(round(cb * cb, 8))).quantize(q8, ROUND_HALF_UP)
        cos = float(dot) / (np.sqrt(float(na)) * np.sqrt(float(nb)))
        r = got[lab]
        assert r["n_first"] == n0 and r["n_second"] == n1
        assert abs(r["drift_cosine"] - round(cos, 6)) <= 1e-6, (lab, r, cos)
        # no magnitude sanity bound: on the near-isotropic fixture the
        # per-label centroids are noise vectors, so the half-vs-half
        # cosine can legitimately sit anywhere in [-1, 1]


def test_random_projection_jl_matches_python(spark):
    """sim_random_projection_jl: md5-derived ±1 projection, pairwise
    distortion ratios, and the JL-band share must match numpy."""
    import hashlib

    import numpy as np

    from mcp_rag_server_spark.operators.vector_audit import (
        JL_DIM,
        JL_EPS,
        JL_K,
        JL_PAIR_SAMPLE,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = (
        load_all()["sim_random_projection_jl"].spark_fn(spark, sf).collect()[0]
    )

    emb = _pd("embeddings", sf)
    ids = sorted(
        emb["vec_id"],
        key=lambda v: hashlib.md5(f"jls:{v}".encode()).hexdigest(),
    )[:JL_PAIR_SAMPLE]
    E = {
        r.vec_id: np.array([float(x) for x in r.embedding])
        for r in emb.itertuples(index=False)
        if r.vec_id in set(ids)
    }
    S = np.array(
        [
            [
                1
                if int(hashlib.md5(f"jl:{k}:{i}".encode()).hexdigest()[0], 16)
                % 2
                == 0
                else -1
                for i in range(JL_DIM)
            ]
            for k in range(JL_K)
        ],
        dtype=float,
    )
    proj = {
        v: np.array(
            [np.round(S[k] * E[v], 8).sum() for k in range(JL_K)]
        )
        / np.sqrt(JL_K)
        for v in ids
    }
    ratios = []
    for i, a in enumerate(sorted(ids)):
        for b in sorted(ids)[i + 1 :]:
            od = np.round((E[a] - E[b]) ** 2, 8).sum()
            if od <= 0:
                continue
            pdist = np.round((proj[a] - proj[b]) ** 2, 8).sum()
            ratios.append(round(pdist / od, 6))
    ratios = np.array(ratios)
    assert row["k_dims"] == JL_K
    assert row["n_pairs"] == len(ratios)
    assert abs(row["mean_ratio_sq"] - ratios.mean()) <= 1e-5
    assert abs(row["min_ratio_sq"] - ratios.min()) <= 1e-6
    assert abs(row["max_ratio_sq"] - ratios.max()) <= 1e-6
    assert (
        abs(
            row["share_within_eps"]
            - round((np.abs(ratios - 1) <= JL_EPS).mean(), 6)
        )
        <= 1e-6
    )


def test_dsir_weights_match_python(spark):
    """ta_dsir_weights: per-source mean log importance weights under
    add-1-smoothed target/raw unigram LMs must match a Counter
    recomputation."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.quality import DSIR_TARGET_LANG
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_dsir_weights"].spark_fn(spark, sf).collect()
    }

    from collections import Counter

    docs = _pd("documents", sf)
    corpus, target = Counter(), Counter()
    for r in docs.itertuples(index=False):
        toks = r.text.split(" ")
        corpus.update(toks)
        if r.lang == DSIR_TARGET_LANG:
            target.update(toks)
    n, v = sum(corpus.values()), len(corpus)
    n_t = sum(target.values())
    q8, q6 = Decimal("1e-8"), Decimal("1e-6")
    per = {}
    for r in docs.itertuples(index=False):
        lw = sum(
            (
                Decimal(
                    repr(
                        round(
                            float(
                                np.log(
                                    ((target.get(t, 0) + 1) / (n_t + v))
                                    / ((corpus[t] + 1) / (n + v))
                                )
                            ),
                            8,
                        )
                    )
                ).quantize(q8, ROUND_HALF_UP)
                for t in r.text.split(" ")
            ),
            Decimal(0),
        )
        lw6 = round(float(lw), 6)
        cell = per.setdefault(r.source, [0, Decimal(0), None, 0])
        cell[0] += 1
        cell[1] += Decimal(repr(lw6)).quantize(q6, ROUND_HALF_UP)
        cell[2] = lw6 if cell[2] is None else max(cell[2], lw6)
        cell[3] += 1 if lw6 > 0 else 0
    assert set(got) == set(per)
    for src, (nd, s, mx, pos) in per.items():
        r = got[src]
        assert r["n_docs"] == nd
        assert abs(r["mean_log_weight"] - round(float(s) / nd, 6)) <= 1e-6
        assert abs(r["max_log_weight"] - mx) <= 1e-6
        assert r["n_target_leaning"] == pos


def test_bigram_logprob_matches_python(spark):
    """ta_bigram_logprob: per-doc surprisal/perplexity under the add-1
    corpus bigram LM must match a Counter recomputation."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: r
        for r in load_all()["ta_bigram_logprob"].spark_fn(spark, sf).collect()
    }

    from collections import Counter

    docs = _pd("documents", sf)
    bg, c1 = Counter(), Counter()
    vocab = set()
    per_doc = {}
    for r in docs.itertuples(index=False):
        toks = r.text.split(" ")
        vocab.update(toks)
        pairs = list(zip(toks, toks[1:]))
        per_doc[r.doc_id] = pairs
        bg.update(pairs)
    for (a, _), c in bg.items():
        c1[a] += c
    vsz = float(len(vocab))
    q8 = Decimal("1e-8")
    for doc_id, pairs in per_doc.items():
        if not pairs:
            assert doc_id not in got
            continue
        s = sum(
            (
                Decimal(
                    repr(
                        round(
                            float(np.log((c1[a] + vsz) / (bg[(a, b)] + 1))),
                            8,
                        )
                    )
                ).quantize(q8, ROUND_HALF_UP)
                for a, b in pairs
            ),
            Decimal(0),
        )
        mean = float(s) / len(pairs)
        r = got[doc_id]
        assert r["n_bigrams"] == len(pairs)
        assert abs(r["mean_surprisal"] - round(mean, 6)) <= 1e-6
        assert abs(r["ppl"] - round(float(np.exp(mean)), 4)) <= 1e-3
        assert r["mean_surprisal"] > 0  # smoothing keeps p < 1


def test_kanonymity_audit_matches_python(spark):
    """ta_kanonymity_audit: class counts and at-risk shares at all
    three generalization levels must match Python Counters."""
    from collections import Counter

    from mcp_rag_server_spark.operators.quality import KANON_K
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["level"]: r
        for r in load_all()["ta_kanonymity_audit"].spark_fn(spark, sf).collect()
    }

    docs = _pd("documents", sf)
    levels = {
        "0_len_bucket10": lambda r: (r.source, r.lang, r.n_chars // 10),
        "1_len_bucket100": lambda r: (r.source, r.lang, r.n_chars // 100),
        "2_source_lang_only": lambda r: (r.source, r.lang),
    }
    for level, keyf in levels.items():
        classes = Counter(keyf(r) for r in docs.itertuples(index=False))
        viol = [n for n in classes.values() if n < KANON_K]
        r = got[level]
        assert r["n_classes"] == len(classes)
        assert r["min_class_size"] == min(classes.values())
        assert r["n_violating"] == len(viol)
        assert r["docs_at_risk"] == sum(viol)
        assert (
            abs(r["pct_at_risk"] - round(sum(viol) * 100.0 / len(docs), 6))
            <= 1e-6
        )


def test_ngram_novelty_matches_python(spark):
    """ta_ngram_novelty: per-source exclusivity and mean spread of
    distinct 3-word shingles must match Python sets."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_ngram_novelty"].spark_fn(spark, sf).collect()
    }

    per_src = {}
    for r in _pd("documents", sf).itertuples(index=False):
        toks = r.text.split(" ")
        shingles = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        per_src.setdefault(r.source, set()).update(shingles)
    spread = {}
    for src, shs in per_src.items():
        for sh in shs:
            spread[sh] = spread.get(sh, 0) + 1
    assert set(got) == set(per_src)
    for src, shs in per_src.items():
        n = len(shs)
        excl = sum(1 for sh in shs if spread[sh] == 1)
        mean_spread = sum(spread[sh] for sh in shs) / n
        r = got[src]
        assert r["n_shingles"] == n
        assert r["n_exclusive"] == excl
        assert abs(r["exclusivity"] - round(excl / n, 4)) <= 1e-9
        assert abs(r["mean_spread"] - round(mean_spread, 4)) <= 1e-9


def test_ccnet_buckets_match_python(spark):
    """ta_ccnet_buckets: language × perplexity-tier composition must
    match a Counter-LM surprisal replication."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.quality import (
        CCNET_HEAD_LT,
        CCNET_MIDDLE_LT,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        (r["lang"], r["tier"]): r
        for r in load_all()["ta_ccnet_buckets"].spark_fn(spark, sf).collect()
    }

    from collections import Counter

    docs = _pd("documents", sf)
    tf = Counter()
    for r in docs.itertuples(index=False):
        tf.update(r.text.split(" "))
    n = float(sum(tf.values()))
    q8, q6 = Decimal("1e-8"), Decimal("1e-6")
    cells = {}
    lang_docs = Counter(docs["lang"])
    total_tokens = 0
    for r in docs.itertuples(index=False):
        toks = r.text.split(" ")
        total_tokens += len(toks)
        s = sum(
            (
                Decimal(repr(round(float(np.log(n / tf[t])), 8))).quantize(
                    q8, ROUND_HALF_UP
                )
                for t in toks
            ),
            Decimal(0),
        )
        ms = round(float(s) / len(toks), 6)
        tier = (
            "0_head"
            if ms < CCNET_HEAD_LT
            else ("1_middle" if ms < CCNET_MIDDLE_LT else "2_tail")
        )
        cell = cells.setdefault((r.lang, tier), [0, 0, Decimal(0)])
        cell[0] += 1
        cell[1] += len(toks)
        cell[2] += Decimal(repr(ms)).quantize(q6, ROUND_HALF_UP)
    assert set(got) == set(cells)
    for (lang, tier), (nd, nt, sms) in cells.items():
        r = got[(lang, tier)]
        assert r["n_docs"] == nd and r["n_tokens"] == nt
        assert abs(r["doc_share_in_lang"] - round(nd / lang_docs[lang], 4)) <= 1e-9
        assert (
            abs(r["token_share_overall"] - round(nt / total_tokens, 6))
            <= 1e-6
        )
        assert abs(r["mean_surprisal"] - round(float(sms) / nd, 6)) <= 1e-6


def test_interval_union_matches_python_merge(spark):
    """tj_interval_union: the two-window island formulation must equal
    the textbook sort-and-merge interval union per user."""
    from mcp_rag_server_spark.operators.temporal import IU_SPAN_US
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: r
        for r in load_all()["tj_interval_union"].spark_fn(spark, sf).collect()
    }

    ev = _pd("events", sf)
    per_user = {}
    for r in ev.itertuples(index=False):
        s = r.ts.value // 1000
        per_user.setdefault(r.user_id, []).append((s, s + IU_SPAN_US))
    assert set(got) == set(per_user)
    for u, ivs in per_user.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        r = got[u]
        assert r["n_islands"] == len(merged)
        assert r["covered_us"] == sum(e - s for s, e in merged)
        assert r["longest_us"] == max(e - s for s, e in merged)


def test_distribution_pack_matches_python(spark):
    """window_distribution_pack: percent_rank / cume_dist / ntile under
    the (price, key) total order must match explicit formulas."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["window_distribution_pack"].spark_fn(spark, sf).collect()

    o = _pd("orders", sf)
    want = {}
    for pri, g in o.groupby("o_orderpriority"):
        recs = sorted(zip(g["o_totalprice"], g["o_orderkey"]))
        n = len(recs)
        prices = [p for p, _ in recs]
        for i, (p, k) in enumerate(recs):
            # peers share a cume_dist by VALUE, ranks by position
            n_le = sum(1 for q in prices if q <= p)
            pct = i / (n - 1) if n > 1 else 0.0
            # ntile(4): first (n % 4) tiles get ceil(n/4)
            base, extra = divmod(n, 4)
            if i < (base + 1) * extra:
                tile = i // (base + 1) + 1
            else:
                tile = (i - extra) // base + 1
            want[(pri, k)] = (pct, n_le / n, tile)
    assert rows
    for r in rows:
        pct, cume, tile = want[(r["o_orderpriority"], r["o_orderkey"])]
        assert abs(r["pct_rank"] - pct) <= 1e-12, r
        assert abs(r["cume"] - cume) <= 1e-12
        assert r["quartile"] == tile


def test_multi_query_fusion_matches_python_rrf(spark):
    """rag_multi_query_fusion: per-variant rank pools + reciprocal-rank
    fusion must match a numpy/ordered-fold replication."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.rag import (
        MQF_POOL,
        MQF_QUERY_IDS,
        MQF_TOP,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["rag_multi_query_fusion"].spark_fn(spark, sf).collect()

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    pos = {v: i for i, v in enumerate(ids)}
    q8 = Decimal("1e-8")
    fused = {}
    for q in MQF_QUERY_IDS:
        cand = [v for v in ids if v not in MQF_QUERY_IDS]
        cand.sort(key=lambda v: (-cos[pos[q], pos[v]], v))
        for rnk, v in enumerate(cand[:MQF_POOL], start=1):
            n, s = fused.get(v, (0, Decimal(0)))
            fused[v] = (
                n + 1,
                s
                + Decimal(repr(round(1.0 / (60 + rnk), 8))).quantize(
                    q8, ROUND_HALF_UP
                ),
            )
    order = sorted(
        ((float(s), v, n) for v, (n, s) in fused.items()),
        key=lambda t: (-t[0], t[1]),
    )[:MQF_TOP]
    assert len(rows) == len(order)
    for r, (s, v, n) in zip(rows, order):
        assert r["vec_id"] == v and r["n_lists"] == n
        assert abs(r["rrf_score"] - s) <= 1e-9


def test_parent_doc_topk_matches_python(spark):
    """rag_parent_doc_topk: reference chunker + lexical overlap scores
    + per-doc argmax must match the Python replication."""
    import sys

    from mcp_rag_server_spark.operators.rag import (
        PD_CHUNK_OVERLAP,
        PD_CHUNK_SIZE,
        PD_QUERY_TERMS,
        PD_TOP_K,
    )
    from mcp_rag_server_spark.registry import load_all

    sys.path.insert(0, "/root/repo/tests")
    from test_reference_semantics import ref_split_chunks

    sf = "/root/testdata/sf0.001"
    rows = load_all()["rag_parent_doc_topk"].spark_fn(spark, sf).collect()

    terms = set(PD_QUERY_TERMS)
    best = {}
    for r in _pd("documents", sf).itertuples(index=False):
        chunks = ref_split_chunks(r.text, PD_CHUNK_SIZE, PD_CHUNK_OVERLAP)
        scored = [
            (
                round(
                    len(set(c.split(" ")) & terms) / len(terms), 4
                ),
                i,
            )
            for i, c in enumerate(chunks)
        ]
        n_match = sum(1 for s, _ in scored if s > 0)
        s, i = max(scored, key=lambda t: (t[0], -t[1]))
        best[r.doc_id] = (i, s, len(chunks), n_match)
    order = sorted(
        ((v[1], k) for k, v in best.items()), key=lambda t: (-t[0], t[1])
    )[:PD_TOP_K]
    assert len(rows) == len(order)
    for r, (s, doc_id) in zip(rows, order):
        i, s2, n_chunks, n_match = best[doc_id]
        assert r["doc_id"] == doc_id
        assert r["best_chunk"] == i
        assert abs(r["best_score"] - s2) <= 1e-9
        assert r["n_chunks"] == n_chunks
        assert r["n_matching_chunks"] == n_match


def test_maxsim_topk_matches_python(spark):
    """sim_maxsim_topk: the nested sum-of-max-block-cosines must match
    a numpy block replication."""
    import numpy as np

    from mcp_rag_server_spark.operators.late_interaction import (
        MAXSIM_BLOCKS,
        MAXSIM_DIM,
        MAXSIM_QUERY_ID,
        MAXSIM_TOP_K,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["sim_maxsim_topk"].spark_fn(spark, sf).collect()

    emb = _pd("embeddings", sf)
    E = {r.vec_id: [float(x) for x in r.embedding]
         for r in emb.itertuples(index=False)}
    labels = dict(zip(emb["vec_id"], emb["label"]))

    def blocks(v):
        return [
            np.array(v[b * MAXSIM_DIM : (b + 1) * MAXSIM_DIM])
            for b in range(MAXSIM_BLOCKS)
        ]

    qb = blocks(E[MAXSIM_QUERY_ID])

    def cosb(a, b):
        return float(
            (a * b).sum()
            / (np.sqrt((a * a).sum()) * np.sqrt((b * b).sum()) + 1e-10)
        )

    scored = []
    for v, vec in E.items():
        if v == MAXSIM_QUERY_ID:
            continue
        db = blocks(vec)
        s = round(sum(max(cosb(q, d) for d in db) for q in qb), 4)
        scored.append((-s, v))
    scored.sort()
    want = scored[:MAXSIM_TOP_K]
    assert [(r["vec_id"], r["maxsim"]) for r in rows] == [
        (v, -s) for s, v in want
    ]
    for r in rows:
        assert r["label"] == labels[r["vec_id"]]


def test_mips_augmented_matches_python(spark):
    """sim_mips_augmented: the norm-augmentation reduction must rank
    identically to the raw inner product (the ALSH identity), and the
    scores must match numpy."""
    import numpy as np

    from mcp_rag_server_spark.operators.late_interaction import (
        MIPS_QUERY_ID,
        MIPS_TOP_K,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["sim_mips_augmented"].spark_fn(spark, sf).collect()

    emb = _pd("embeddings", sf)
    E = {r.vec_id: np.array([float(x) for x in r.embedding])
         for r in emb.itertuples(index=False)}
    q = E[MIPS_QUERY_ID]
    scored = []
    for v, x in E.items():
        if v == MIPS_QUERY_ID:
            continue
        dot = round(float((x * q).sum()), 4)
        dn2 = round(float((x * x).sum()), 6)
        scored.append((-(round(2 * dot - dn2, 4)), v, dot))
    scored.sort()
    want = scored[:MIPS_TOP_K]
    assert [(r["vec_id"], r["dot"], r["neg_aug_l2"]) for r in rows] == [
        (v, d, -na) for na, v, d in want
    ]
    # the ALSH identity: augmented order == raw-dot order on these rows
    dots = [r["dot"] for r in rows]
    assert dots == sorted(dots, reverse=True)


def test_hard_negatives_match_python(spark):
    """sim_hard_negatives: per-anchor positive / hard-negative picks
    must match a numpy argmax within/across label groups."""
    import numpy as np

    from mcp_rag_server_spark.operators.late_interaction import HN_ANCHORS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["sim_hard_negatives"].spark_fn(spark, sf).collect()

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    pos = {v: i for i, v in enumerate(ids)}
    labels = dict(zip(emb["vec_id"], emb["label"]))
    want = []
    for a in range(HN_ANCHORS):
        for role in ("hard_negative", "positive"):
            cand = [
                v
                for v in ids
                if v != a
                and (
                    (labels[v] == labels[a]) == (role == "positive")
                )
            ]
            cand.sort(key=lambda v: (-cos[pos[a], pos[v]], v))
            want.append((a, labels[a], role, cand[0],
                         cos[pos[a], pos[cand[0]]]))
    assert len(rows) == len(want)
    for r, (a, al, role, v, s) in zip(rows, want):
        assert (r["a_id"], r["a_label"], r["role"], r["vec_id"]) == (
            a, al, role, v,
        )
        assert abs(r["score"] - s) <= 1e-9


def test_cascade_rerank_matches_python(spark):
    """sim_cascade_rerank: Hamming pool → exact rerank → recall audit,
    replayed in Python end to end."""
    import numpy as np

    from mcp_rag_server_spark.operators.late_interaction import (
        CR_K,
        CR_POOL,
        CR_QUERY_ID,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["sim_cascade_rerank"].spark_fn(spark, sf).collect()

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    pos = {v: i for i, v in enumerate(ids)}
    labels = dict(zip(emb["vec_id"], emb["label"]))
    codes = {}
    for r in emb.itertuples(index=False):
        bits = 0
        for i, x in enumerate(r.embedding):
            if float(x) > 0:
                bits |= 1 << i
        codes[r.vec_id] = bits
    qc = codes[CR_QUERY_ID]
    pool = sorted(
        (bin(c ^ qc).count("1"), v)
        for v, c in codes.items()
        if v != CR_QUERY_ID
    )[:CR_POOL]
    rerank = sorted(
        ((-cos[pos[CR_QUERY_ID], pos[v]], v, h) for h, v in pool)
    )[:CR_K]
    exact = {
        v
        for _, v in sorted(
            (-cos[pos[CR_QUERY_ID], pos[v]], v)
            for v in ids
            if v != CR_QUERY_ID
        )[:CR_K]
    }
    assert len(rows) == CR_K
    for r, (negs, v, h) in zip(rows, rerank):
        assert r["vec_id"] == v and r["hamming"] == h
        assert abs(r["score"] - (-negs)) <= 1e-9
        assert r["label"] == labels[v]
        assert r["in_exact_topk"] == (v in exact)


def test_multiprobe_lsh_matches_python(spark):
    """sim_multiprobe_lsh: the three-tier probe curve must match a
    Python bucket replication — and recall must be monotone in the
    probe budget."""
    import hashlib

    import numpy as np

    from mcp_rag_server_spark.operators.vector_lsh import (
        DIM,
        MP_QUERY_ID,
        MP_TOP_K,
        N_PLANES,
        _plane,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["strategy"]: r
        for r in load_all()["sim_multiprobe_lsh"].spark_fn(spark, sf).collect()
    }

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    pos = {v: i for i, v in enumerate(ids)}
    planes = [np.array(_plane(i)) for i in range(N_PLANES)]
    buckets = {}
    for r in emb.itertuples(index=False):
        x = np.array([float(v) for v in r.embedding])
        b = 0
        for i, p in enumerate(planes):
            # index-order fold like the SQL literal dot
            acc = 0.0
            for j in range(DIM):
                acc += x[j] * p[j]
            if acc >= 0:
                b |= 1 << i
        buckets[r.vec_id] = b
    qb = buckets[MP_QUERY_ID]
    exact = {
        v
        for _, v in sorted(
            (-cos[pos[MP_QUERY_ID], pos[v]], v)
            for v in ids
            if v != MP_QUERY_ID
        )[:MP_TOP_K]
    }
    probe_tier = {qb: 0}
    for i in range(N_PLANES):
        probe_tier.setdefault(qb ^ (1 << i), 1)
    for i in range(N_PLANES):
        for j in range(i + 1, N_PLANES):
            probe_tier.setdefault(qb ^ ((1 << i) | (1 << j)), 2)
    recalls = []
    for strategy, max_tier in (
        ("0_home", 0),
        ("1_hamming1", 1),
        ("2_hamming2", 2),
    ):
        cand = [
            v
            for v in ids
            if v != MP_QUERY_ID
            and probe_tier.get(buckets[v], 99) <= max_tier
        ]
        cand.sort(key=lambda v: (-cos[pos[MP_QUERY_ID], pos[v]], v))
        hits = sum(1 for v in cand[:MP_TOP_K] if v in exact)
        r = got[strategy]
        assert r["n_candidates"] == len(cand), (strategy, r, len(cand))
        assert r["n_topk_hits"] == hits
        assert abs(r["recall_at_k"] - round(hits / MP_TOP_K, 4)) <= 1e-9
        recalls.append(r["recall_at_k"])
    assert recalls == sorted(recalls)  # more probes never lose recall


def test_feature_hashing_matches_python(spark):
    """ta_feature_hashing: dims-used and mean per-doc collision rate at
    each width must match Python md5 folds."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.textanalysis import FH_DIMS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["n_dims"]: r
        for r in load_all()["ta_feature_hashing"].spark_fn(spark, sf).collect()
    }

    docs = _pd("documents", sf)
    doc_toks = {
        r.doc_id: set(r.text.split(" "))
        for r in docs.itertuples(index=False)
    }
    vocab = set().union(*doc_toks.values())
    fold = {t: _md5_fold(f"fh:{t}") for t in vocab}
    q8 = Decimal("1e-8")
    for d in FH_DIMS:
        used = {fold[t] % d for t in vocab}
        s = Decimal(0)
        for toks in doc_toks.values():
            nnz = len({fold[t] % d for t in toks})
            s += Decimal(repr(round(1.0 - nnz / len(toks), 8))).quantize(
                q8, ROUND_HALF_UP
            )
        r = got[d]
        assert r["vocab_size"] == len(vocab)
        assert r["n_dims_used"] == len(used)
        assert (
            abs(
                r["mean_doc_collision_rate"]
                - round(float(s) / len(doc_toks), 6)
            )
            <= 1e-6
        )
    # more dims never increase collisions
    rates = [got[d]["mean_doc_collision_rate"] for d in sorted(FH_DIMS)]
    assert rates == sorted(rates, reverse=True)


def test_mojibake_detect_matches_python(spark):
    """ta_mojibake_detect: the injected-corruption census per source
    must match a Python string replication."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.quality import (
        MOJI_CTRL,
        MOJI_DOUBLE_ENC,
        MOJI_REPLACEMENT,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_mojibake_detect"].spark_fn(spark, sf).collect()
    }

    q6 = Decimal("1e-6")
    per = {}
    for r in _pd("documents", sf).itertuples(index=False):
        text = r.text
        if r.doc_id % 13 == 0:
            text += MOJI_DOUBLE_ENC
        if r.doc_id % 17 == 0:
            text += MOJI_REPLACEMENT
        if r.doc_id % 19 == 0:
            text += MOJI_CTRL
        f_repl = 1 if "�" in text else 0
        f_ctrl = 1 if "\x07" in text else 0
        f_dbl = 1 if "Ã©" in text else 0
        ascii_len = sum(1 for ch in text if " " <= ch <= "~")
        pct = Decimal(
            repr(round((len(text) - ascii_len) * 100.0 / len(text), 6))
        ).quantize(q6, ROUND_HALF_UP)
        cell = per.setdefault(r.source, [0, 0, 0, 0, 0, Decimal(0)])
        cell[0] += 1
        cell[1] += f_repl
        cell[2] += f_ctrl
        cell[3] += f_dbl
        cell[4] += 1 if (f_repl + f_ctrl + f_dbl) == 0 else 0
        cell[5] += pct
    assert set(got) == set(per)
    for src, (n, nr, nc, nd, ncl, sp) in per.items():
        r = got[src]
        assert r["n_docs"] == n
        assert r["n_replacement_docs"] == nr
        assert r["n_control_docs"] == nc
        assert r["n_double_encoded_docs"] == nd
        assert r["n_clean_docs"] == ncl
        assert (
            abs(r["mean_non_printable_pct"] - round(float(sp) / n, 6))
            <= 1e-6
        )


def test_weighted_sample_es_matches_python(spark):
    """ta_weighted_sample_es: the Efraimidis–Spirakis top-3 per source
    under the md5-fold draw must match a Python rank."""
    import numpy as np

    from mcp_rag_server_spark.operators.textanalysis import ES_K
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ta_weighted_sample_es"].spark_fn(spark, sf).collect()

    per = {}
    for r in _pd("documents", sf).itertuples(index=False):
        u = (_md5_fold(f"es:{r.doc_id}") + 1) / 4294967296.0
        key = float(np.log(u)) / r.n_chars
        per.setdefault(r.source, []).append((-key, r.doc_id, r.n_chars))
    want = []
    for src in sorted(per):
        picks = sorted(per[src])[:ES_K]
        for rnk, (nk, doc_id, n_chars) in enumerate(picks, start=1):
            want.append((src, rnk, doc_id, n_chars, round(-nk, 8)))
    assert len(rows) == len(want)
    for r, (src, rnk, doc_id, n_chars, key) in zip(rows, want):
        assert (r["source"], r["rnk"], r["doc_id"], r["n_chars"]) == (
            src, rnk, doc_id, n_chars,
        )
        assert abs(r["es_key"] - key) <= 1e-8
    # E-S law: within a source, longer docs are never systematically
    # excluded — at minimum the keys must be negative (ln u < 0, w > 0)
    assert all(r["es_key"] < 0 for r in rows)


def test_code_detect_matches_python(spark):
    """ta_code_detect: the symbol-density + keyword-lexicon flag census
    must match a Python regex replication."""
    import re

    from mcp_rag_server_spark.operators.textanalysis import (
        CODE_KEYWORD_MIN,
        CODE_KEYWORDS,
        CODE_SYMBOL_RATIO,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_code_detect"].spark_fn(spark, sf).collect()
    }

    kw = set(CODE_KEYWORDS)
    per = {}
    for r in _pd("documents", sf).itertuples(index=False):
        sym = len(re.findall(r"[{};=<>()]", r.text))
        ratio = sym / max(len(r.text), 1)
        hits = len(set(r.text.split(" ")) & kw)
        is_code = 1 if (ratio > CODE_SYMBOL_RATIO or hits >= CODE_KEYWORD_MIN) else 0
        cell = per.setdefault(r.source, [0, 0])
        cell[0] += 1
        cell[1] += is_code
    assert set(got) == set(per)
    for src, (n, nc) in per.items():
        r = got[src]
        assert r["n_docs"] == n and r["n_code_like"] == nc
        assert abs(r["code_ratio"] - round(nc / n, 4)) <= 1e-9


def test_bpe_train_matches_python(spark):
    """ta_bpe_train: the learned merge sequence must match a classic
    from-scratch Python BPE (dict of word freqs, pair counts, the
    ' '-bounded non-overlapping replace)."""
    from collections import Counter

    from mcp_rag_server_spark.operators.textanalysis import BPE_ITERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ta_bpe_train"].spark_fn(spark, sf).collect()

    words = Counter()
    for r in _pd("documents", sf).itertuples(index=False):
        words.update(w for w in r.text.split(" ") if w)
    syms = {" ".join(list(w)) + " </w>": f for w, f in words.items()}
    want = []
    for rank in range(1, BPE_ITERS + 1):
        pairs = Counter()
        for sym, f in syms.items():
            parts = sym.split(" ")
            for a, b in zip(parts, parts[1:]):
                pairs[f"{a} {b}"] += f
        pair, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = pair.replace(" ", "")
        new_syms = {}
        for sym, f in syms.items():
            ns = (" " + sym + " ").replace(
                " " + pair + " ", " " + merged + " "
            ).strip()
            new_syms[ns] = new_syms.get(ns, 0) + f
        syms = new_syms
        corpus_tokens = sum(len(s.split(" ")) * f for s, f in syms.items())
        want.append((rank, pair, merged, cnt, corpus_tokens))
    assert len(rows) == len(want)
    for r, (rank, pair, merged, cnt, ct) in zip(rows, want):
        assert (
            r["merge_rank"], r["pair"], r["merged"],
            r["pair_count"], r["corpus_tokens_after"],
        ) == (rank, pair, merged, cnt, ct)
    # each merge strictly shrinks the symbol-level corpus
    cts = [r["corpus_tokens_after"] for r in rows]
    assert all(a > b for a, b in zip(cts, cts[1:])) or len(cts) <= 1


def test_zorder_layout_matches_python(spark):
    """zorder_layout: Morton interleave, partition census, and the
    tile-bounded guarantee must match a Python bit replication."""
    from mcp_rag_server_spark.operators.layout import (
        ZO_BITS,
        ZO_CELLS,
        ZO_PART_SHIFT,
        ZO_TILE,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["zorder_layout"].spark_fn(spark, sf).collect()

    o = _pd("orders", sf)
    cmin, cmax = o["o_custkey"].min(), o["o_custkey"].max()
    dmin, dmax = o["o_orderdate"].min(), o["o_orderdate"].max()
    span_days = (dmax.normalize() - dmin.normalize()).days
    parts = {}
    for r in o.itertuples(index=False):
        x = min(
            int((r.o_custkey - cmin) * float(ZO_CELLS) / (cmax - cmin + 1)),
            ZO_CELLS - 1,
        )
        dd = (r.o_orderdate.normalize() - dmin.normalize()).days
        y = min(int(dd * float(ZO_CELLS) / (span_days + 1)), ZO_CELLS - 1)
        z = 0
        for i in range(ZO_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        p = z >> ZO_PART_SHIFT
        cell = parts.setdefault(p, [0, x, x, y, y])
        cell[0] += 1
        cell[1] = min(cell[1], x)
        cell[2] = max(cell[2], x)
        cell[3] = min(cell[3], y)
        cell[4] = max(cell[4], y)
    assert {r["z_part"] for r in rows} == set(parts)
    for r in rows:
        n, xmn, xmx, ymn, ymx = parts[r["z_part"]]
        assert r["n_rows"] == n
        assert (r["x_min"], r["x_max"], r["y_min"], r["y_max"]) == (
            xmn, xmx, ymn, ymx,
        )
        assert r["x_extent"] == xmx - xmn + 1
        assert r["y_extent"] == ymx - ymn + 1
        assert r["tile_bounded"] == (
            (xmx - xmn + 1 <= ZO_TILE) and (ymx - ymn + 1 <= ZO_TILE)
        )
        assert r["tile_bounded"]  # the Morton locality guarantee itself


def test_leakage_safe_split_matches_union_find(spark):
    """ta_leakage_safe_split: component-hash assignment, per-part
    censuses, and BOTH leak counts must match a Python union-find +
    md5 replication — with the zero-leak guarantee asserted."""
    from mcp_rag_server_spark.operators.dedup import (
        SPLIT_MOD,
        SPLIT_TEST_LT,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["part"]: r
        for r in load_all()["ta_leakage_safe_split"].spark_fn(spark, sf).collect()
    }

    _, bands, _, toksets, _ = _py_minhash(sf)
    docs_pd = _pd("documents", sf)
    docs = list(docs_pd["doc_id"])
    n_chars = dict(zip(docs_pd["doc_id"], docs_pd["n_chars"]))
    gpairs = [
        (a, b)
        for a, b in _py_lsh_candidates(bands)
        if len(toksets[a] & toksets[b]) / len(toksets[a] | toksets[b]) >= 0.9
    ]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in gpairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d in docs}

    def is_test(key):
        return _md5_fold(f"split:{key}") % SPLIT_MOD < SPLIT_TEST_LT

    part = {d: ("test" if is_test(comp[d]) else "train") for d in docs}
    n_cross_cluster = sum(1 for a, b in gpairs if part[a] != part[b])
    n_cross_naive = sum(1 for a, b in gpairs if is_test(a) != is_test(b))
    assert n_cross_cluster == 0  # zero by construction
    for p in ("test", "train"):
        members = [d for d in docs if part[d] == p]
        r = got[p]
        assert r["n_docs"] == len(members)
        assert r["n_components"] == len({comp[d] for d in members})
        assert r["total_chars"] == sum(n_chars[d] for d in members)
        assert r["leaked_edges_cluster_split"] == 0
        assert r["leaked_edges_naive_split"] == n_cross_naive


def test_trigram_index_search_matches_python(spark):
    """ta_trigram_index_search: the candidate/verified/missed census
    per needle must match Python trigram sets — with the index
    completeness contract (n_missed = 0) asserted."""
    from mcp_rag_server_spark.operators.textanalysis import TRGM_NEEDLES
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["needle"]: r
        for r in load_all()["ta_trigram_index_search"].spark_fn(spark, sf).collect()
    }

    def trigrams(s):
        return {s[i : i + 3] for i in range(len(s) - 2)}

    docs = {
        r.doc_id: r.text for r in _pd("documents", sf).itertuples(index=False)
    }
    doc_tris = {d: trigrams(t) for d, t in docs.items()}
    for needle in TRGM_NEEDLES:
        nt = trigrams(needle)
        cands = {d for d, tg in doc_tris.items() if nt <= tg}
        truth = {d for d, t in docs.items() if needle in t}
        r = got[needle]
        assert r["n_trigrams"] == len(nt)
        assert r["n_candidates"] == len(cands)
        assert r["n_verified"] == len(cands & truth)
        assert r["n_false_pos"] == len(cands - truth)
        assert r["n_missed"] == len(truth - cands)
        assert r["n_missed"] == 0  # trigram index is complete


def test_du_rollup_matches_python(spark):
    """fileops_du_rollup: the ancestor-explode rollup must match a
    Python os.path-style prefix walk — with the mass-conservation
    identity (the '.' row carries the whole-tree total)."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["fileops_du_rollup"].spark_fn(spark, sf).collect()

    per = {}
    total = 0
    for r in _pd("documents", sf).itertuples(index=False):
        ext = {0: "txt", 1: "md"}.get(r.doc_id % 3, "log")
        path = f"{r.source}/{r.lang}/doc_{r.doc_id}.{ext}"
        total += r.n_chars
        parts = path.split("/")
        for depth in range(len(parts)):
            dir_path = "." if depth == 0 else "/".join(parts[:depth])
            cell = per.setdefault((dir_path, depth), [0, 0, 0])
            cell[0] += 1
            cell[1] += r.n_chars
            cell[2] = max(cell[2], r.n_chars)
    assert {(r["dir_path"], r["depth"]) for r in rows} == set(per)
    for r in rows:
        n, tot, mx = per[(r["dir_path"], r["depth"])]
        assert r["n_files"] == n
        assert r["total_bytes"] == tot
        assert r["max_file_bytes"] == mx
    root = next(r for r in rows if r["dir_path"] == ".")
    assert root["total_bytes"] == total


def _keep_ingest_files(monkeypatch, tmp_path) -> None:
    """Point the ``ingest_*`` queries' per-call temp dir at the
    test-owned ``tmp_path``, so the files a query wrote outlive the
    call and the test can read them."""
    import contextlib

    from mcp_rag_server_spark.operators import ingest_query

    @contextlib.contextmanager
    def owned_dir(**_kwargs):
        yield str(tmp_path)

    monkeypatch.setattr(ingest_query.tempfile, "TemporaryDirectory", owned_dir)


def test_csv_quarantine_preserves_raw_lines(spark, monkeypatch, tmp_path):
    """ingest_csv_malformed's contract is quarantine-don't-crash AND
    never-silently-drop: beyond the count the oracle pins, the corrupt
    column must hold the planted bad lines VERBATIM so a downstream
    repair job can reprocess them."""
    from mcp_rag_server_spark.operators.ingest_query import CSV_BAD_LINES
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    # run the operator to build its side-effect corpus in tmp_path
    _keep_ingest_files(monkeypatch, tmp_path)
    load_all()["ingest_csv_malformed"].spark_fn(spark, sf).collect()

    cdir = str(tmp_path / "csv")
    schema = (
        "event_id bigint, user_id bigint, event_type string,"
        " value double, _corrupt string"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(cdir)
        .cache()
    )
    bad = sorted(
        r["_corrupt"]
        for r in parsed.filter(F.col("_corrupt").isNotNull()).collect()
    )
    assert bad == sorted(CSV_BAD_LINES)
    # and the good side parsed every remaining row without loss
    from mcp_rag_server_spark.operators.ingest_query import TXT_USERS

    n_good = parsed.filter(F.col("_corrupt").isNull()).count()
    n_src = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("user_id") < TXT_USERS)
        .count()
    )
    assert n_good == n_src


def _py_simhash(sf):
    """{doc_id: 16-bit simhash}: per distinct token, 4 leading md5 hex
    digits give 16 bit votes (+1/-1); bit set iff the vote sum is
    positive — the dedup.py _simhash_sql twin."""
    import hashlib

    out = {}
    for r in _pd("documents", sf).itertuples(index=False):
        votes = [0] * 16
        for tok in set(r.text.split(" ")):
            h = hashlib.md5(tok.encode()).hexdigest()
            for i in range(16):
                d = int(h[i // 4], 16)
                votes[i] += 1 if (d >> (i % 4)) & 1 else -1
        out[r.doc_id] = sum(
            (1 << i) for i in range(16) if votes[i] > 0
        )
    return out


def test_simhash_matches_python(spark):
    """dd_simhash: every 16-bit signature must match the Python vote
    replication exactly."""
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["dd_simhash"].spark_fn(spark, sf).collect()

    want = _py_simhash(sf)
    assert {r["doc_id"]: r["simhash"] for r in rows} == want


def test_method_agreement_matches_python_pair_sets(spark):
    """dd_method_agreement: the Spark side counts via histogram/mask
    identities without ever materializing a pair set; this check
    BUILDS all three pair sets explicitly in Python (the thing the
    production plan must never do) and verifies every census number
    and pair-set Jaccard."""
    import hashlib

    from mcp_rag_server_spark.operators.dedup import SIMHASH_AGREE_HAMMING
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["method_pair"]: r
        for r in load_all()["dd_method_agreement"].spark_fn(spark, sf).collect()
    }

    _, bands, _, toksets, sources = _py_minhash(sf)
    lsh = {
        (a, b)
        for a, b in _py_lsh_candidates(bands)
        if sources[a] == sources[b]
        and len(toksets[a] & toksets[b]) / len(toksets[a] | toksets[b])
        >= 0.9
    }
    sh = _py_simhash(sf)
    ids = sorted(sh)
    sim = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= SIMHASH_AGREE_HAMMING
    }
    texts = {
        r.doc_id: hashlib.md5(r.text.encode()).hexdigest()
        for r in _pd("documents", sf).itertuples(index=False)
    }
    ex = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if texts[a] == texts[b]
    }

    def check(name, A, B):
        r = got[name]
        both = len(A & B)
        union = len(A | B)
        assert r["n_a"] == len(A), (name, r["n_a"], len(A))
        assert r["n_b"] == len(B)
        assert r["n_both"] == both
        want_j = 0.0 if union == 0 else round(both / union, 6)
        assert abs(r["pair_jaccard"] - want_j) <= 1e-9

    check("lsh_jaccard09_vs_simhash16", lsh, sim)
    check("lsh_jaccard09_vs_exact", lsh, ex)
    check("simhash16_vs_exact", sim, ex)
    # exact duplicates share a simhash, so exact ⊆ simhash at any
    # Hamming bound — the containment the census's warning relies on
    assert ex <= sim


def test_compression_frontier_matches_python(spark):
    """sim_compression_frontier: the bytes-vs-recall ladder must match
    a Python replay of all four rungs (exact fold cosine, SQ8
    dequant, md5 sign-plane JL-16, 1-bit Hamming) over the shared
    query set — with the float32-anchor and recall-ordering laws
    asserted."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.vector_audit import (
        CF_JL_K,
        CF_K,
        CF_QUERIES,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["method"]: r
        for r in load_all()["sim_compression_frontier"].spark_fn(spark, sf).collect()
    }

    emb = _pd("embeddings", sf)
    ids = list(emb["vec_id"])
    E = np.array(list(emb["embedding"]))
    cos = np.round(_fold_cosine_matrix(E), 4)
    pos = {v: i for i, v in enumerate(ids)}
    q0, q8 = Decimal("1"), Decimal("1e-8")

    # SQ8 dequant + fold cosine vs each query
    dq = {}
    for v in ids:
        x = E[pos[v]]
        mn, mx = float(x.min()), float(x.max())
        sc = (mx - mn) / 255.0
        dq[v] = (
            [mn] * len(x)
            if sc == 0
            else [
                mn
                + float(
                    Decimal(repr((float(e) - mn) / sc)).quantize(
                        q0, ROUND_HALF_UP
                    )
                )
                * sc
                for e in x
            ]
        )

    def fold_cos(a, b):
        dot = na = nb = 0.0
        for k in range(len(a)):
            xx, yy = float(a[k]), float(b[k])
            dot += xx * yy
            na += xx * xx
            nb += yy * yy
        return dot / (np.sqrt(na) * np.sqrt(nb) + 1e-10)

    # JL-16: md5 sign planes, y = decimal-sum of round-8 terms / 4
    S = np.array(
        [
            [
                1
                if int(hashlib.md5(f"jl:{k}:{i}".encode()).hexdigest()[0], 16)
                % 2
                == 0
                else -1
                for i in range(64)
            ]
            for k in range(CF_JL_K)
        ],
        dtype=float,
    )
    proj = {}
    for v in ids:
        x = E[pos[v]].astype(float)
        proj[v] = np.array(
            [
                float(
                    sum(
                        (
                            Decimal(repr(round(S[k][i] * x[i], 8))).quantize(
                                q8, ROUND_HALF_UP
                            )
                            for i in range(64)
                        ),
                        Decimal(0),
                    )
                )
                / 4.0
                for k in range(CF_JL_K)
            ]
        )
    n2 = {v: float(np.round(proj[v] * proj[v], 8).sum()) for v in ids}

    codes = {}
    for r in emb.itertuples(index=False):
        bits = 0
        for i, x in enumerate(r.embedding):
            if float(x) > 0:
                bits |= 1 << i
        codes[r.vec_id] = bits

    h_sq8 = h_jl = h_ham = h_total = 0
    for q in range(CF_QUERIES):
        cand = [v for v in ids if v != q]
        top_exact = set(
            sorted(cand, key=lambda v: (-cos[pos[q], pos[v]], v))[:CF_K]
        )
        top_sq8 = set(
            sorted(
                cand, key=lambda v: (-round(fold_cos(dq[v], E[pos[q]]), 4), v)
            )[:CF_K]
        )
        def s_jl(v):
            dot = float(
                sum(
                    (
                        Decimal(repr(round(proj[v][k] * proj[q][k], 8))).quantize(
                            q8, ROUND_HALF_UP
                        )
                        for k in range(CF_JL_K)
                    ),
                    Decimal(0),
                )
            )
            return round(dot / (np.sqrt(n2[v]) * np.sqrt(n2[q]) + 1e-10), 4)
        top_jl = set(sorted(cand, key=lambda v: (-s_jl(v), v))[:CF_K])
        top_ham = set(
            sorted(
                cand,
                key=lambda v: (bin(codes[v] ^ codes[q]).count("1"), v),
            )[:CF_K]
        )
        h_total += CF_K
        h_sq8 += len(top_sq8 & top_exact)
        h_jl += len(top_jl & top_exact)
        h_ham += len(top_ham & top_exact)

    want = {
        "0_float32": (256, 1.0),
        "1_sq8": (64, round(h_sq8 / h_total, 4)),
        "2_jl16": (64, round(h_jl / h_total, 4)),
        "3_binary": (8, round(h_ham / h_total, 4)),
    }
    assert set(got) == set(want)
    for m, (bpv, rec) in want.items():
        r = got[m]
        assert r["bytes_per_vec"] == bpv
        assert abs(r["recall_at_k"] - rec) <= 1e-9, (m, r["recall_at_k"], rec)
    # ladder laws: the anchor is exact; 1-bit never beats SQ8
    assert got["0_float32"]["recall_at_k"] == 1.0
    assert got["3_binary"]["recall_at_k"] <= got["1_sq8"]["recall_at_k"]


def test_fuzzy_correct_matches_python(spark):
    """ta_fuzzy_correct: the injected typos, the brute-force
    edit-distance-1 dictionary scan (NO deletion-key blocking — the
    independent algorithm), and the frequency-ranked corrections must
    match."""
    from collections import Counter

    from mcp_rag_server_spark.operators.textanalysis import (
        FUZZY_MIN_LEN,
        FUZZY_MOD,
        FUZZY_REM,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["ta_fuzzy_correct"].spark_fn(spark, sf).collect()

    docs = _pd("documents", sf)
    dictionary = Counter()
    typos = Counter()
    for r in docs.itertuples(index=False):
        toks = r.text.split(" ")
        dictionary.update(toks)
        if r.doc_id % FUZZY_MOD == FUZZY_REM:
            t = toks[0]
            if len(t) >= FUZZY_MIN_LEN:
                typos[t[0] + t[2:]] += 1

    def lev1(a, b):
        """edit distance exactly 1 (brute force, not the deletion
        neighborhood)."""
        if a == b:
            return False
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:  # one substitution
            return sum(1 for x, y in zip(a, b) if x != y) == 1
        s, t = (a, b) if la < lb else (b, a)  # one insertion
        i = 0
        while i < len(s) and s[i] == t[i]:
            i += 1
        return s[i:] == t[i + 1 :]

    want = []
    for typo in sorted(typos):
        cands = [
            (-cnt, tok)
            for tok, cnt in dictionary.items()
            if lev1(typo, tok)
        ]
        if not cands:
            continue
        negc, tok = min(cands)
        want.append((typo, typos[typo], tok, -negc))
    assert [
        (r["typo"], r["n_typo_docs"], r["correction"], r["correction_cnt"])
        for r in rows
    ] == want
    assert len(want) > 0


def test_dataset_card_matches_python(spark):
    """ta_dataset_card: every datasheet cell must match a Python
    recomputation over the raw corpus — the composed census of the
    per-operator checks above (gopher rules, CCNet tiers, LSH-verified
    near-dup pairs, token stats) in one row."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from mcp_rag_server_spark.operators.quality import (
        CCNET_HEAD_LT,
        CCNET_MIDDLE_LT,
        RULE_MAX_MEAN_WORDLEN,
        RULE_MAX_TOKENS,
        RULE_MIN_DISTINCT_RATIO,
        RULE_MIN_MEAN_WORDLEN,
        RULE_MIN_TOKENS,
        STOPWORDS,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    row = load_all()["ta_dataset_card"].spark_fn(spark, sf).collect()[0]

    docs = _pd("documents", sf)
    tf = Counter()
    for r in docs.itertuples(index=False):
        tf.update(r.text.split(" "))
    n_tok = sum(tf.values())
    sw = set(STOPWORDS)
    q8 = Decimal("1e-8")
    n_pass = n_head = n_middle = n_tail = 0
    for r in docs.itertuples(index=False):
        toks = r.text.split(" ")
        nt = len(toks)
        dr = len(set(toks)) / nt
        mw = (r.n_chars - nt + 1) / nt
        if (
            RULE_MIN_TOKENS <= nt <= RULE_MAX_TOKENS
            and RULE_MIN_MEAN_WORDLEN <= mw <= RULE_MAX_MEAN_WORDLEN
            and dr >= RULE_MIN_DISTINCT_RATIO
            and any(t in sw for t in toks)
        ):
            n_pass += 1
        s = sum(
            (
                Decimal(repr(round(float(np.log(n_tok / tf[t])), 8))).quantize(
                    q8, ROUND_HALF_UP
                )
                for t in toks
            ),
            Decimal(0),
        )
        ms = round(float(s) / nt, 6)
        if ms < CCNET_HEAD_LT:
            n_head += 1
        elif ms < CCNET_MIDDLE_LT:
            n_middle += 1
        else:
            n_tail += 1

    _, bands, _, toksets, sources = _py_minhash(sf)
    pairs = [
        (a, b)
        for a, b in _py_lsh_candidates(bands)
        if sources[a] == sources[b]
        and len(toksets[a] & toksets[b]) / len(toksets[a] | toksets[b])
        >= 0.9
    ]
    dup_docs = {d for p in pairs for d in p}
    n_docs = len(docs)

    assert row["n_docs"] == n_docs
    assert row["n_sources"] == docs["source"].nunique()
    assert row["n_langs"] == docs["lang"].nunique()
    assert row["total_chars"] == int(docs["n_chars"].sum())
    assert row["n_tokens"] == n_tok
    assert row["vocab_size"] == len(tf)
    assert abs(row["mean_doc_tokens"] - round(n_tok / n_docs, 2)) <= 1e-9
    assert row["n_gopher_pass"] == n_pass
    assert abs(row["gopher_pass_rate"] - round(n_pass / n_docs, 4)) <= 1e-9
    assert row["n_neardup_pairs"] == len(pairs)
    assert row["n_dup_docs"] == len(dup_docs)
    assert abs(row["dup_doc_pct"] - round(len(dup_docs) / n_docs, 4)) <= 1e-9
    assert (row["n_head"], row["n_middle"], row["n_tail"]) == (
        n_head, n_middle, n_tail,
    )
    # datasheet mass conservation: tiers partition the corpus
    assert row["n_head"] + row["n_middle"] + row["n_tail"] == n_docs


def test_aqe_skew_join_splits_hot_partition(spark, no_broadcast):
    """AQE skew-join is the README scale note's runtime lever beside
    the explicit salted_join: with skewJoin enabled and thresholds
    forced low, a 90%-hot-key sort-merge join must execute with the
    hot partition SPLIT (the final adaptive plan reports a skew=true
    shuffle read), and the result must equal the plain join row set."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        big = spark.range(0, 40_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("payload"),
        )
        small = spark.range(0, 2_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("dim_val"),
        )
        # the executed-plan inspection must target the SAME dataset the
        # action ran on (each action materializes its own QE): reduce
        # the join to one count row and collect THAT dataset. The agg
        # reads payload so column pruning cannot strip the shuffle down
        # to the constant hot key (which compresses below any skew
        # byte threshold).
        cnt = big.join(small, "k").groupBy().agg(
            F.count("*").alias("n"), F.sum(F.length("payload")).alias("b")
        )
        n = cnt.collect()[0]["n"]
        big_counts = dict(big.groupBy("k").count().collect())
        small_counts = dict(small.groupBy("k").count().collect())
        want = sum(
            c * small_counts.get(k, 0) for k, c in big_counts.items()
        )
        assert n == want
        final_plan = cnt._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan, final_plan[:500]
        # the hot partition was detected and split
        assert "skewed" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_compaction_plan_matches_python_packing(spark):
    """ingest_compaction_plan: per-source stats from an explicit Python
    re-implementation of the sorted-greedy prefix-sum bin packing
    (sort files bytes DESC / lang, EXCLUSIVE cumsum // target = bin) —
    the packing law itself, independent of the shared SQL text."""
    from mcp_rag_server_spark.operators.layout import (
        COMPACT_SMALL_LT,
        COMPACT_TARGET,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ingest_compaction_plan"]
        .spark_fn(spark, sf)
        .collect()
    }

    docs = _pd("documents", sf)
    files = (
        docs.groupby(["source", "lang"])["n_chars"].sum().reset_index()
    )
    for source, grp in files.groupby("source"):
        sizes = sorted(
            zip(grp["n_chars"].astype(int), grp["lang"]),
            key=lambda t: (-t[0], t[1]),
        )
        bins: dict[int, int] = {}
        cum = 0
        for b, _lang in sizes:
            bins[cum // COMPACT_TARGET] = (
                bins.get(cum // COMPACT_TARGET, 0) + b
            )
            cum += b
        r = got[source]
        assert r["n_files"] == len(sizes)
        assert r["total_bytes"] == sum(b for b, _ in sizes)
        assert r["n_small_files"] == sum(
            1 for b, _ in sizes if b < COMPACT_SMALL_LT
        )
        assert r["n_bins"] == len(bins)
        assert r["max_bin_bytes"] == max(bins.values())
        import math

        fill = sum(b for b, _ in sizes) / (len(bins) * COMPACT_TARGET)
        assert r["avg_fill_ratio"] == math.floor(fill * 1e4 + 0.5) / 1e4


def test_orc_roundtrip_matches_python_and_rows(spark, monkeypatch, tmp_path):
    """ingest_orc_roundtrip: (a) the ORC-read aggregates match a plain
    Python/Decimal recomputation from the parquet slice (Spark casts
    double->DECIMAL(18,4) via the shortest-repr HALF_UP route —
    Decimal(repr(v)) replicates it); (b) row-level: the ORC dir the
    operator wrote reads back exceptAll-identical to the parquet slice
    in BOTH directions, so compensating aggregate errors can't hide."""
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.ingest_query import TXT_USERS
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    _keep_ingest_files(monkeypatch, tmp_path)
    got = {
        r["event_type"]: r
        for r in load_all()["ingest_orc_roundtrip"]
        .spark_fn(spark, sf)
        .collect()
    }

    ev = _pd("events", sf)
    ev = ev[ev["user_id"] < TXT_USERS]
    q4 = Decimal("0.0001")
    for et, grp in ev.groupby("event_type"):
        r = got[et]
        assert r["n_events"] == len(grp)
        tot = sum(
            Decimal(repr(float(v))).quantize(q4, ROUND_HALF_UP)
            for v in grp["value"]
        )
        assert abs(r["total_value"] - float(tot)) <= 1e-9
        assert r["max_event_id"] == int(grp["event_id"].max())
        assert r["max_ts"] == grp["ts"].max().floor("us")

    # row-level: the ORC dir written by the op vs the parquet slice
    back = spark.read.orc(str(tmp_path / "events_orc"))
    src = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("user_id") < TXT_USERS)
        .select("event_id", "user_id", "event_type", "value", "ts")
        .select(*[F.col(c).cast(t) for c, t in back.dtypes])
    )
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0


def test_snapshot_diff_matches_python_set_algebra(spark):
    """ingest_snapshot_diff: added/removed/common from plain Python set
    algebra over the residue classes — independent of both the Spark
    manifest machinery and the oracle's NOT IN derivation."""
    from mcp_rag_server_spark.operators.ingest_query import (
        SD_ADD_MOD,
        SD_DEL_MOD,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["version_pair"]: r
        for r in load_all()["ingest_snapshot_diff"]
        .spark_fn(spark, sf)
        .collect()
    }

    ids = set(int(i) for i in _pd("documents", sf)["doc_id"])
    v0 = {i for i in ids if i % SD_ADD_MOD != 0}
    v1 = ids
    v2 = {i for i in ids if i % SD_DEL_MOD != 0}
    for pair, a, b in (("0_to_1", v0, v1), ("1_to_2", v1, v2)):
        r = got[pair]
        assert r["n_added"] == len(b - a)
        assert r["n_removed"] == len(a - b)
        assert r["n_common"] == len(a & b)


def test_scene_cuts_matches_python_numpy(spark):
    """mm_scene_cuts: per-doc frame energies / jumps / cuts recomputed
    with a direct numpy pass over the UTF-8 bytes (independent of the
    mapInPandas batching AND the DuckDB window-lag derivation)."""
    import math

    import numpy as np

    from mcp_rag_server_spark.operators.multimodal import (
        SCENE_CUT_THRESHOLD,
        SCENE_FRAME_LEN,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: r
        for r in load_all()["mm_scene_cuts"].spark_fn(spark, sf).collect()
    }

    def r4(x):
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    docs = _pd("documents", sf)
    n_checked = 0
    for row in docs.itertuples(index=False):
        if len(row.text) == 0:
            assert row.doc_id not in got
            continue
        x = np.frombuffer(row.text.encode("utf-8"), np.uint8).astype(
            np.int64
        )
        n = len(x) // SCENE_FRAME_LEN + (1 if len(x) % SCENE_FRAME_LEN else 0)
        e = np.array(
            [
                x[i * SCENE_FRAME_LEN : (i + 1) * SCENE_FRAME_LEN].mean()
                for i in range(n)
            ]
        )
        jumps = np.abs(np.diff(e))
        r = got[row.doc_id]
        assert r["n_frames"] == n
        assert r["n_cuts"] == int((jumps > SCENE_CUT_THRESHOLD).sum())
        if len(jumps):
            assert r["max_jump"] == r4(float(jumps.max()))
        else:
            assert r["max_jump"] is None
        assert r["mean_energy"] == r4(float(e.mean()))
        n_checked += 1
    assert n_checked == len(got)


def test_filtered_topk_matches_python_bruteforce(spark):
    """sim_filtered_topk: brute-force Python top-k — apply the metadata
    predicate, score every survivor with the ordered-fold cosine, rank
    by (rounded score DESC, vec_id) — must equal the composed plan."""
    import numpy as np

    from mcp_rag_server_spark.operators.similarity import (
        FILT_K,
        FILT_LANG,
        FILT_MIN_CHARS,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = [
        tuple(r)
        for r in load_all()["sim_filtered_topk"]
        .spark_fn(spark, sf)
        .select("vec_id", "label", "lang", "n_chars", "score")
        .collect()
    ]

    emb = _pd("embeddings", sf)
    ids = [int(i) for i in emb["vec_id"]]
    E = np.stack([np.asarray(v) for v in emb["embedding"]])
    cos = np.round(_fold_cosine_matrix(E), 4)
    qpos = ids.index(0)
    meta = {
        int(r.doc_id): (r.lang, int(r.n_chars))
        for r in _pd("documents", sf).itertuples(index=False)
    }
    label = {int(r.vec_id): r.label for r in emb.itertuples(index=False)}
    cand = [
        (v, label[v], meta[v][0], meta[v][1], float(cos[qpos, ids.index(v)]))
        for v in ids
        if v != 0
        and meta[v][0] == FILT_LANG
        and meta[v][1] >= FILT_MIN_CHARS
    ]
    cand.sort(key=lambda t: (-t[4], t[0]))
    assert got == cand[:FILT_K]


def test_admission_pipeline_matches_python_stages(spark):
    """ta_admission_pipeline: the full 5-stage chain (lexicon gate ->
    quality gate -> shingle-fingerprint dedup -> PII scrub -> per-source
    budget) replayed as a sequential Python program with explicit
    loops — every cross-stage contract re-derived without SQL."""
    import re
    from collections import defaultdict

    from mcp_rag_server_spark.operators.quality import (
        ADM_CHAR_BUDGET,
        ADM_MAX_TOKENS,
        ADM_MIN_DISTINCT,
        ADM_MIN_TOKENS,
    )
    from mcp_rag_server_spark.operators.training_prep import (
        EMAIL_RE,
        PHONE_RE,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in load_all()["ta_admission_pipeline"]
        .spark_fn(spark, sf)
        .collect()
    }

    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    en_lex = {"the", "a", "of", "value", "fast"}
    tech_lex = {"query", "data", "stream", "group", "filter"}

    docs = sorted(
        _pd("documents", sf).itertuples(index=False),
        key=lambda r: int(r.doc_id),
    )
    n_docs = defaultdict(int)
    drop_lang = defaultdict(int)
    drop_quality = defaultdict(int)
    survivors = []  # (doc_id, source, text) past both gates
    for r in docs:
        src = r.source
        n_docs[src] += 1
        words = r.text.split(" ")
        uniq = set(words)
        en_like = len(uniq & en_lex) >= len(uniq & tech_lex)
        quality_ok = (
            ADM_MIN_TOKENS <= len(words) <= ADM_MAX_TOKENS
            and len(uniq) / len(words) >= ADM_MIN_DISTINCT
        )
        if not en_like:
            drop_lang[src] += 1
        elif not quality_ok:
            drop_quality[src] += 1
        else:
            survivors.append((int(r.doc_id), src, r.text, words))

    seen_fp = set()
    drop_dup = defaultdict(int)
    deduped = []
    for doc_id, src, text, words in survivors:  # doc_id ascending
        sh = [
            " ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 0))
        ]
        fp = min(md5(s) for s in sh) if sh else md5(text)
        if fp in seen_fp:
            drop_dup[src] += 1
        else:
            seen_fp.add(fp)
            deduped.append((doc_id, src, text))

    n_redacted = defaultdict(int)
    kept = defaultdict(int)
    drop_budget = defaultdict(int)
    chars_kept = defaultdict(int)
    cum = defaultdict(int)
    for doc_id, src, text in deduped:  # doc_id ascending per source
        aug = text
        if doc_id % 7 == 0:
            aug += f" contact user{doc_id}@example.com now"
        if doc_id % 11 == 0:
            aug += f" call 555-{doc_id % 10000:04d}"
        n_pii = len(re.findall(EMAIL_RE, aug)) + len(
            re.findall(PHONE_RE, aug)
        )
        clean = re.sub(PHONE_RE, "[PHONE]", re.sub(EMAIL_RE, "[EMAIL]", aug))
        if n_pii > 0:
            n_redacted[src] += 1
        cum[src] += len(clean)
        if cum[src] <= ADM_CHAR_BUDGET:
            kept[src] += 1
            chars_kept[src] += len(clean)
        else:
            drop_budget[src] += 1

    assert set(got) == set(n_docs)
    for src, r in got.items():
        assert r["n_docs"] == n_docs[src]
        assert r["drop_lang"] == drop_lang[src]
        assert r["drop_quality"] == drop_quality[src]
        assert r["drop_dup"] == drop_dup[src]
        assert r["n_redacted"] == n_redacted[src]
        assert r["kept"] == kept[src]
        assert r["drop_budget"] == drop_budget[src]
        assert r["chars_kept"] == chars_kept[src]


def test_attribution_last_touch_matches_python_replay(spark):
    """ev_attribution_last_touch: sequential per-user replay — carry
    the last click ts seen STRICTLY before each row, credit purchases
    within the 24h deadline to the click's hour — recomputed with an
    explicit loop (the Spark and DuckDB sides share one windowed SQL
    text, so the carry/frame semantics need a third derivation)."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from mcp_rag_server_spark.operators.events import ATTR_WINDOW_US
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["click_hour"]: r
        for r in load_all()["ev_attribution_last_touch"]
        .spark_fn(spark, sf)
        .collect()
    }

    ev = _pd("events", sf).sort_values(["user_id", "ts", "event_id"])
    q4 = Decimal("0.0001")
    n_purch = defaultdict(int)
    credit = defaultdict(Decimal)
    for _user, grp in ev.groupby("user_id", sort=False):
        last_click = None
        for r in grp.itertuples(index=False):
            if (
                r.event_type == "purchase"
                and last_click is not None
                and (r.ts - last_click).value // 1000 <= ATTR_WINDOW_US
            ):
                hour = last_click.floor("h")
                n_purch[hour] += 1
                credit[hour] += Decimal(repr(float(r.value))).quantize(
                    q4, ROUND_HALF_UP
                )
            if r.event_type == "click":
                last_click = r.ts
    assert set(got) == set(n_purch)
    for hour, r in got.items():
        assert r["n_purchases"] == n_purch[hour]
        assert abs(r["attributed_value"] - float(credit[hour])) <= 1e-9


def test_context_pack_matches_python_replay(spark):
    """rag_context_pack: greedy budget packing replayed in Python —
    per query, rank all candidates by (rounded fold cosine DESC,
    vec_id), bound the pool, inclusive-cumsum whitespace token counts,
    keep while <= budget — independent of the shared rank/prefix-sum
    window SQL."""
    import numpy as np

    from mcp_rag_server_spark.operators.rag import (
        PACK_BUDGET_TOKENS,
        PACK_POOL,
        PACK_QUERIES,
    )
    from mcp_rag_server_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        r["q_id"]: r
        for r in load_all()["rag_context_pack"].spark_fn(spark, sf).collect()
    }

    emb = _pd("embeddings", sf)
    ids = [int(i) for i in emb["vec_id"]]
    E = np.stack([np.asarray(v) for v in emb["embedding"]])
    cos = np.round(_fold_cosine_matrix(E), 4)
    ntok = {
        int(r.doc_id): len(r.text.split(" "))
        for r in _pd("documents", sf).itertuples(index=False)
    }
    expected = {}
    for q in range(PACK_QUERIES):
        qpos = ids.index(q)
        pool = sorted(
            (
                (float(cos[qpos, ids.index(v)]), v)
                for v in ids
                if v != q
            ),
            key=lambda t: (-t[0], t[1]),
        )[:PACK_POOL]
        cum, packed = 0, []
        for score, v in pool:  # already in (score DESC, vec_id) order
            cum += ntok[v]
            if cum <= PACK_BUDGET_TOKENS:
                packed.append((score, cum))
        if packed:
            expected[q] = packed
    assert set(got) == set(expected)
    for q, packed in expected.items():
        r = got[q]
        assert r["n_docs_packed"] == len(packed)
        assert r["tokens_used"] == packed[-1][1]
        assert r["min_score_packed"] == min(s for s, _ in packed)
        assert r["top_score"] == max(s for s, _ in packed)


def test_cell_probe_refinement_invariants(spark):
    """Structural invariants of the r9 Lloyd-refined probe assignment
    (alongside the value-level Python twin above): every vector emits
    exactly CELL_PROBES probe rows, the probed cell ids are drawn from
    the nlist md5 seeds (the refinement renames no cell), every seed
    cell survives refinement non-empty on the fixture (each seed
    assigns to itself at distance 0), and the two probes per vector
    are distinct cells."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        _check_cell_probe_invariants(spark, sf)


def test_cell_probe_fold_matches_reference_list(spark):
    """The shipped per-row fold top-2 (cell_probes' only path since
    r10: zero shuffles, constant accumulator) emits the IDENTICAL
    (vec_id, cell) multiset as the r5-r9 reference picker
    (_probe_reference_list: centroid-TABLE crossJoin + vec_id shuffle
    + collect_list sort-slice) at both fixture SFs — same distance
    arithmetic, same (dd, cell) tie-break, through two independently
    shaped plans. The same identity holds at real large-nlist sizing
    via tools/probe_path_stress.py. CONTRACT-CLEAN INPUT ONLY: on a
    NULL/NaN-element embedding the fold raises its sentinel guard
    while the list form silently drops the row — the loud side is
    pinned by test_cell_probes_raises_on_null_embedding_element."""
    from mcp_rag_server_spark import catalog
    from mcp_rag_server_spark.operators import clustering

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = catalog.load_table(spark, sf, "embeddings")
        n = emb.count()
        shipped = sorted(
            (r["vec_id"], r["cell"])
            for r in clustering.cell_probes(emb, n_vectors=n).collect()
        )
        cent = clustering._refined_centroids(emb, clustering.n_cells(n))
        ref = sorted(
            (r["vec_id"], r["cell"])
            for r in clustering._probe_reference_list(emb, cent).collect()
        )
        assert shipped == ref, sf
        # the shipped plan really is the fold shape: no per-key list
        # aggregation (cp_top) anywhere; the fold accumulator (b1d)
        # present. (collect_list legitimately remains for the
        # dimension-bounded centroid assembly and the one-row
        # centroid-array broadcast.)
        plan = (
            clustering.cell_probes(emb, n_vectors=n)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert "cp_top" not in plan and "b1d" in plan, sf


def test_cell_probe_corpus_count_memo(spark, tmp_path):
    """cell_probes' construction-time corpus count is memoized per
    input-file set: two plan builds over the same parquet source pay
    one count job (plan-only tooling builds hundreds of plans per
    session), and distinct sources get distinct entries — also for a
    source whose file URI is percent-encoded (a space in the path)."""
    from conftest import SF0001

    from mcp_rag_server_spark import catalog
    from mcp_rag_server_spark.operators import clustering

    clustering._COUNT_MEMO.clear()
    emb1 = catalog.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb2 = catalog.load_table(spark, "/root/testdata/sf0.01", "embeddings")
    n1 = emb1.count()
    assert clustering._corpus_count(emb1) == n1
    assert clustering._corpus_count(emb2) == emb2.count()
    # same row COUNT at these two SFs, but distinct sources -> two keys
    assert len(clustering._COUNT_MEMO) == 2
    # keys carry (path, size, mtime) so an in-place single-file
    # regeneration (same path, new stat) misses the stale entry
    key1 = next(
        k for k in clustering._COUNT_MEMO
        if any("sf0.001" in part[0] for part in k)
    )
    assert all(part[1] > 0 and part[2] > 0 for part in key1), key1
    # second resolution is a pure dict hit: poison the memo and verify
    # the poisoned value is returned (no fresh count job re-runs)
    clustering._COUNT_MEMO[key1] = n1 + 7
    assert clustering._corpus_count(emb1) == n1 + 7
    clustering._COUNT_MEMO.clear()
    assert clustering._corpus_count(emb1) == n1
    # a NON-bare-scan frame (Filter in the analyzed plan) bypasses the
    # memo entirely: correct local count, no poisoning of the
    # full-table entry in either direction
    flt = emb1.filter("vec_id < 3")
    before = dict(clustering._COUNT_MEMO)
    assert clustering._corpus_count(flt) == 3
    assert clustering._COUNT_MEMO == before
    # count-safety is a WHITELIST (advice r10): a count-changing node
    # the old blocklist never listed (Offset) must also bypass the
    # memo — and a bare-scan entry must not be poisoned by it
    off = emb1.offset(1)
    n_off = clustering._corpus_count(off)
    assert n_off == n1 - 1
    assert clustering._COUNT_MEMO == before
    # a per-row explode (Generate) changes count too — bypasses
    gen = emb1.selectExpr("explode(embedding) AS x")
    assert clustering._corpus_count(gen) == gen.count()
    assert clustering._COUNT_MEMO == before
    # inputFiles() reports file:///…/a%20b/…; the key is still stamped
    spaced = tmp_path / "a b"
    spaced.mkdir()
    shutil.copy(f"{SF0001}/embeddings.parquet", spaced)
    emb3 = catalog.load_table(spark, str(spaced), "embeddings")
    assert "%20" in emb3.inputFiles()[0]
    assert clustering._corpus_count(emb3) == n1
    assert clustering._corpus_count(emb3) == n1
    assert len(clustering._COUNT_MEMO) == len(before) + 1


def test_cell_probes_raises_on_null_embedding_element(spark):
    """The per-row fold's (Infinity, LONG_MAX) sentinel survives when a
    row's embedding contains NULL/NaN (the dd fold nulls for every
    centroid); cell_probes must FAIL LOUDLY rather than emit LONG_MAX
    as a real cell id (advice r10 — the reference list picker would
    instead silently drop the row, so the forms diverge exactly on
    contract-violating input)."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from mcp_rag_server_spark.operators import clustering

    emb = spark.range(12).select(
        SF.col("id").alias("vec_id"),
        SF.expr(
            "transform(sequence(1, 4), s ->"
            " CASE WHEN id = 5 AND s = 2 THEN CAST(NULL AS FLOAT)"
            " ELSE CAST(pmod(id * 31 + s * 7, 13) AS FLOAT) END)"
        ).alias("embedding"),
    )
    with _pytest.raises(Exception, match="sentinel survived"):
        clustering.cell_probes(emb, n_vectors=12).collect()
    # the clean subset of the same frame passes through the guard
    clean = emb.filter("vec_id <> 5")
    rows = clustering.cell_probes(clean, n_vectors=11).collect()
    assert len(rows) == 11 * clustering.CELL_PROBES
    assert all(r.cell != clustering._CP_LONG_MAX for r in rows)


def _check_cell_probe_invariants(spark, sf):
    import hashlib

    from mcp_rag_server_spark.catalog import load_table
    from mcp_rag_server_spark.operators.clustering import (
        CELL_PROBES,
        CELL_SALT,
        cell_probes,
        n_cells,
    )

    emb = load_table(spark, sf, "embeddings")
    rows = cell_probes(emb).collect()
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    nlist = n_cells(len(ids))
    seed_ids = set(
        sorted(
            ids,
            key=lambda v: hashlib.md5(
                f"{CELL_SALT}:{v}".encode()
            ).hexdigest(),
        )[:nlist]
    )

    per_vec: dict[int, list[int]] = {}
    for r in rows:
        per_vec.setdefault(r["vec_id"], []).append(r["cell"])
    assert set(per_vec) == set(ids)
    n_probes = min(CELL_PROBES, nlist)
    for v, cells in per_vec.items():
        assert len(cells) == n_probes, (v, cells)
        assert len(set(cells)) == n_probes, (v, cells)
        assert set(cells) <= seed_ids, (v, cells)
    probed_cells = {c for cells in per_vec.values() for c in cells}
    # fixture has 5 vectors and nlist=8? no: n_cells floors at 8 but
    # sf0.001 has 5 vectors -> seeds = all 5; every cell must appear
    # in SOME vector's rank-1 assignment chain, but top-2 probing need
    # not cover every cell — assert instead that the refinement kept
    # at least one probed cell per vector's own seed set (non-empty
    # coverage) and that no probe references a non-seed cell (above).
    assert probed_cells, probed_cells


def test_cell_probe_empty_cell_guard_on_duplicate_seeds(spark):
    """Bit-identical seed vectors send every vector to the lowest
    duplicate cell at rank 1; without the r9 seed-fallback guard the
    other cells' centroid rows vanish and each vector emits fewer
    than CELL_PROBES probes (silent nlist shrink). Extreme case: ALL
    vectors identical — the guard must keep every seed cell alive as
    an assignment target so each vector still probes CELL_PROBES
    distinct cells (ties break by cell id, so probes are the two
    lowest cell ids)."""
    from pyspark.sql import functions as F

    import hashlib

    from mcp_rag_server_spark.operators.clustering import (
        CELL_PROBES,
        CELL_SALT,
        cell_probes,
        n_cells,
    )

    vec = [float(i % 7) / 7.0 for i in range(64)]
    arr = "array(" + ", ".join(f"CAST({x} AS FLOAT)" for x in vec) + ")"
    emb = spark.range(12).select(
        F.col("id").alias("vec_id"), F.expr(arr).alias("embedding")
    )
    rows = cell_probes(emb, n_vectors=12).collect()
    per_vec: dict[int, set[int]] = {}
    for r in rows:
        per_vec.setdefault(r["vec_id"], set()).add(r["cell"])
    assert set(per_vec) == set(range(12))
    # all centroids are identical (guarded fallbacks == the sole
    # populated cell's mean of identical vectors), so every dd ties
    # and the (dd, cell) tie-break picks the two lowest SEED cell ids
    seed_ids = sorted(
        range(12),
        key=lambda v: hashlib.md5(f"{CELL_SALT}:{v}".encode()).hexdigest(),
    )[: n_cells(12)]
    expect = set(sorted(seed_ids)[:CELL_PROBES])
    for v, cells in per_vec.items():
        assert len(cells) == CELL_PROBES, (v, cells)
        assert cells == expect, (v, cells)
