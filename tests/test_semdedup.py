"""SemDeDup (operators/semdedup.py): clustering reuse, the paper's
least-centroid-typical keep rule, and the degenerate-cell guard."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from kenlm_spark.operators.semdedup import semdedup_labels, semdedup_losers


def _rows():
    """Two well-separated direction clusters in 4-d; cluster A holds a
    3-member near-dup clique + one distinct member, cluster B holds a
    2-member clique + one distinct member."""
    a = np.array([1.0, 0.05, 0.0, 0.0])
    b = np.array([0.0, 0.0, 1.0, -0.05])

    def py(v):
        return [float(x) for x in v]

    rows = [
        (0, py(a)),
        (1, py(a + [0.001, 0.0, 0.0, 0.0])),
        (2, py(a + [0.0, 0.002, 0.0, 0.0])),
        (3, [0.2, 0.9, 0.0, 0.0]),  # same cell as A, not a near-dup
        (10, py(b)),
        (11, py(b + [0.0, 0.0, 0.001, 0.0])),
        (12, [0.0, 0.1, 0.3, 0.9]),  # same half-space as B, distinct
    ]
    return rows


def test_keep_rule_least_typical_survives(spark):
    df = spark.createDataFrame(
        _rows(), "vec_id long, embedding array<double>"
    )
    out = semdedup_labels(
        df, tau=0.99, n_cells=2, sample_frac=1.0
    ).collect()
    got = {r["nid"]: r for r in out}
    assert len(got) == 7
    # cliques resolve to exactly one survivor each
    assert sum(got[i]["keep"] for i in (0, 1, 2)) == 1
    assert sum(got[i]["keep"] for i in (10, 11)) == 1
    # non-duplicates always keep
    assert got[3]["keep"] and got[12]["keep"]
    # the survivor of a fully-connected clique is the (c_sim, nid)-min
    # member: it wins every pairwise contest under the paper rule
    for clique in ((0, 1, 2), (10, 11)):
        winner = min(clique, key=lambda i: (got[i]["c_sim"], i))
        assert got[winner]["keep"]
        assert all(not got[i]["keep"] for i in clique if i != winner)
    # members of one clique share a cell (k-means put them together)
    assert len({got[i]["cell"] for i in (0, 1, 2)}) == 1


def test_max_cell_guard_skips_degenerate_cluster(spark):
    rows = _rows()
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {
        r["nid"]: r["keep"]
        for r in semdedup_labels(
            df, tau=0.99, n_cells=2, sample_frac=1.0, max_cell=3,
            split_oversized=False,
        ).collect()
    }
    # k-means splits this corpus {0,1,2} / {3,10,11,12} (the A clique is
    # so tight it owns a cell): the 4-member cell exceeds max_cell=3 and
    # (split_oversized=False, the pre-r7 guard) is skipped from pairing
    # — the B clique (10, 11) keeps BOTH members — while the 3-member
    # cell still dedups the A clique to 1 survivor.
    assert out[10] and out[11]
    assert sum(out[i] for i in (0, 1, 2)) == 1
    assert out[3] and out[12]


def test_oversized_cell_hash_split_still_dedups(spark):
    """split_oversized=True (default): a cell over max_cell pairs within
    ceil(n/max_cell) id-hash subcells instead of dropping out of dedup —
    identical members collapse to exactly one survivor PER SUBCELL, and
    the subcell term recomputes row-by-row from the documented salt."""
    import hashlib

    # 40 identical vectors (the degenerate shard) + 3 distinct far ones
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)] + [
        (100 + i, [0.0, 1.0, 0.0, float(i)]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_labels(
        df, tau=0.99, n_cells=2, sample_frac=1.0, max_cell=8
    ).collect()
    by_id = {r["nid"]: r for r in out}
    degen = [r for r in out if r["nid"] < 100]
    assert len(degen) == 40
    # nsplit = ceil(40/8) = 5; survivors = min id of each nonempty subcell
    def sub(nid):
        u = int.from_bytes(
            hashlib.md5(f"semsplit:{nid}".encode()).digest()[:8], "big"
        )
        return (u >> 4) % 5  # h60 = top 60 bits of md5

    subcells: dict = {}
    for r in degen:
        subcells.setdefault(sub(r["nid"]), []).append(r["nid"])
    expect_keep = {min(v) for v in subcells.values()}
    got_keep = {r["nid"] for r in degen if r["keep"]}
    assert got_keep == expect_keep
    assert 1 <= len(got_keep) <= 5
    # the small healthy cell is untouched by the split (nsplit=1)
    assert all(by_id[100 + i]["keep"] for i in range(3))


def test_losers_numpy_verify_matches_catalyst_chain(spark):
    """semdedup_losers' two verify paths — the per-(cell, sub) numpy
    blocks (dim=None) and the unrolled Catalyst chain (dim=4) — drop
    the same ids on one wide table with near-dup clusters, tied and
    NaN centroid cosines, and an oversized cell that splits."""
    rng = np.random.default_rng(3)
    rows = []
    for cell in range(3):
        for k in range(4):
            base = rng.standard_normal(4)
            for j in range(5 + cell):
                v = base + rng.standard_normal(4) * (0.002 * j)
                rows.append((cell, v / np.linalg.norm(v)))
    # c_sim ties every 4th id; every 11th is NaN
    c_sim = [round(0.5 + 0.01 * (nid % 4), 6) for nid in range(len(rows))]
    wide = [
        (nid, [float(x) for x in v], cell,
         float("nan") if nid % 11 == 0 else c_sim[nid])
        for nid, (cell, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        wide, "nid long, vn array<double>, cell int, c_sim double"
    )

    def losers(dim):
        out = semdedup_losers(df, tau=0.99, max_cell=24, dim=dim).collect()
        return sorted(r["nid"] for r in out)

    numpy_path = losers(None)
    assert 0 < len(numpy_path) < len(wide)
    assert numpy_path == losers(4)


def test_cluster_balanced_sample_quota_and_determinism(spark):
    import hashlib

    from kenlm_spark.operators.semdedup import cluster_balanced_sample

    # 200 vectors in 2 tight direction clusters of very different sizes
    rows = [
        (i, [1.0, 0.0, 0.001 * (i % 7), 0.0]) for i in range(160)
    ] + [
        (1000 + i, [0.0, 1.0, 0.0, 0.001 * (i % 5)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster_balanced_sample(
        df, per_cell=20, n_cells=2, sample_frac=1.0
    ).collect()
    assert len(out) == 200
    by_cell: dict = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    assert len(by_cell) == 2
    for members in by_cell.values():
        n = len(members)
        assert all(r["n_cell"] == n for r in members)
        kept = sum(r["sampled"] for r in members)
        # expected quota = per_cell (binomial): allow a wide band, and
        # the small cell (40 <= 2*per_cell) keeps roughly half
        assert 0 < kept <= min(n, 3 * 20)
        # the decision is the documented pure-integer threshold —
        # recompute it row by row
        for r in members:
            u = int.from_bytes(
                hashlib.md5(f"cbal:{r['nid']}".encode()).digest()[:8], "big"
            )
            hmod = (u >> 4) % 1_000_000  # h60 = top 60 bits of md5
            assert r["sampled"] == (hmod * n < 20 * 1_000_000)


def test_labels_cover_corpus_and_match_sql_shape(spark):
    df = spark.createDataFrame(
        _rows(), "vec_id long, embedding array<double>"
    )
    out = semdedup_labels(df, tau=0.99, n_cells=2, sample_frac=1.0)
    assert [f.name for f in out.schema.fields] == [
        "nid", "cell", "c_sim", "keep",
    ]
    # every input row gets a label exactly once
    assert out.groupBy("nid").count().filter(F.col("count") > 1).count() == 0
    assert out.count() == 7


def test_split_path_cross_engine_parity(spark, tmp_path):
    """The oversized-cell split must agree between Spark and the DuckDB
    twin — the driver's toy cells sit under the cap, so this pins the
    split regime explicitly: max_cell=4 over a 24-row corpus forces
    nsplit > 1 in at least one cell on both engines."""
    import duckdb

    from kenlm_spark.operators.semdedup import semdedup_sql

    rows = [
        (i, [1.0, 0.001 * (i % 3), 0.0, 0.0]) for i in range(16)
    ] + [
        (100 + i, [0.0, 1.0, 0.001 * (i % 5), 0.0]) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = str(tmp_path / "emb.parquet")
    df.coalesce(1).write.parquet(pq)

    got = {
        r["nid"]: (r["cell"], r["c_sim"], r["keep"])
        for r in semdedup_labels(
            spark.read.parquet(pq),
            tau=0.95, n_cells=2, sample_frac=1.0, max_cell=4,
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    sql = semdedup_sql(tau=0.95, n_cells=2, sample_frac=1.0, max_cell=4)
    want = {
        nid: (cell, c_sim, keep)
        for nid, cell, c_sim, keep in con.execute(sql).fetchall()
    }
    assert got == want and len(got) == 24
    # the split regime actually engaged: some near-dups survived in
    # different subcells (pure full-cell pairing would keep exactly one
    # per tight clique; with nsplit=ceil(16/4)=4 the big clique keeps >1)
    big_clique_keeps = sum(1 for nid, v in got.items() if nid < 100 and v[2])
    assert 1 < big_clique_keeps <= 4
