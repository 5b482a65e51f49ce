"""Python-model checks for the round-8 composed operators: each
engine result is replayed by an independent pure-Python implementation
on randomized inputs (the DuckDB list-aggregation incident showed the
oracle engine itself can be the wrong party, so a third, dependency-
free referee earns its keep on every order- or arithmetic-sensitive
composition)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_drift_chi2_matches_python_model(spark):
    """Integer micro-unit chi-square per window vs a big-int Python
    replay — including windows missing some event types entirely
    (their expected-count penalty must appear, not be skipped)."""
    from flink_demo_spark.plans.behavior import _DRIFT_S

    rng = random.Random(8157)
    types = ["a", "b", "c"]
    rows = []
    for w in range(6):
        # window 3 intentionally lacks type 'c'; window 5 only has 'a'
        for t in types:
            if (w == 3 and t == "c") or (w == 5 and t != "a"):
                continue
            for _ in range(rng.randrange(1, 9)):
                rows.append((w, t))
    df = spark.createDataFrame(rows, "w long, event_type string")

    census = df.groupBy("event_type").agg(F.count(F.lit(1)).alias("g"))
    from pyspark.sql import Window as W

    census = census.withColumn("gt", F.sum("g").over(W.partitionBy()))
    wins = df.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    o = df.groupBy("w", "event_type").agg(F.count(F.lit(1)).alias("o"))
    grid = wins.crossJoin(F.broadcast(census))
    j = grid.join(o, ["w", "event_type"], "left").withColumn(
        "o0", F.coalesce(F.col("o"), F.lit(0).cast("long"))
    )
    term = F.expr(
        f"CAST(({_DRIFT_S} * CAST(o0 * gt - n * g AS DECIMAL(38,0))"
        f" * CAST(o0 * gt - n * g AS DECIMAL(38,0)))"
        f" DIV (CAST(n AS DECIMAL(38,0)) * g * gt) AS BIGINT)"
    )
    got = {
        r.w: (r.n, r.chi2)
        for r in j.select("w", "n", term.alias("term"))
        .groupBy("w", "n")
        .agg(F.sum("term").alias("chi2"))
        .collect()
    }

    g: dict = {}
    n: dict = {}
    for w, t in rows:
        g[t] = g.get(t, 0) + 1
        n[w] = n.get(w, 0) + 1
    gt = sum(g.values())
    want = {}
    for w in n:
        chi = 0
        for t in types:
            o0 = sum(1 for w2, t2 in rows if w2 == w and t2 == t)
            d = o0 * gt - n[w] * g[t]
            chi += (_DRIFT_S * d * d) // (n[w] * g[t] * gt)
        want[w] = (n[w], chi)
    assert got == want


def test_keep_best_matches_python_model(spark):
    """Cluster keeper selection vs a Python union-find + argmax replay
    on a random pair graph with quality ties (doc_id must break them)."""
    from flink_demo_spark.operators import graph
    from pyspark.sql import Window as W

    rng = random.Random(4242)
    n_docs = 40
    quality = {d: rng.choice([10, 20, 20, 30]) for d in range(n_docs)}
    pairs = sorted(
        {
            tuple(sorted(rng.sample(range(n_docs), 2)))
            for _ in range(25)
        }
    )
    edges = spark.createDataFrame(pairs, "doc1 long, doc2 long")
    nodes = spark.createDataFrame([(d,) for d in range(n_docs)], "doc_id long")
    qdf = spark.createDataFrame(
        [(d, q) for d, q in quality.items()], "doc_id long, quality_bp long"
    )
    labels = graph.connected_components(
        edges, "doc1", "doc2", nodes=nodes
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    w = W.partitionBy("cluster_id").orderBy(F.desc("quality_bp"), F.asc("doc_id"))
    got = {
        r.doc_id: (r.cluster_id, bool(r.keep))
        for r in labels.join(qdf, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .collect()
    }

    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d in range(n_docs)}
    by_comp: dict = {}
    for d, c in comp.items():
        by_comp.setdefault(c, []).append(d)
    want = {}
    for c, members in by_comp.items():
        best = min(members, key=lambda d: (-quality[d], d))
        for d in members:
            want[d] = (c, d == best)
    assert got == want


def test_rrf_fusion_matches_python_model(spark):
    """RRF fusion arithmetic and final ranking vs a Python replay —
    including the swapped-rank score tie (docs with (lex 3, vec 7) and
    (lex 7, vec 3) fuse to the identical double and must fall back to
    the doc_id tiebreak identically)."""
    from pyspark.sql import Window as W

    lex = [(0, 10, 3), (0, 11, 7), (0, 12, 1), (0, 13, 9)]
    vec = [(0, 10, 7), (0, 11, 3), (0, 13, 2), (0, 14, 5)]
    ldf = spark.createDataFrame(lex, "query_id long, doc_id long, lex_rk int")
    vdf = spark.createDataFrame(vec, "query_id long, doc_id long, vec_rk int")
    fused = ldf.join(vdf, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(1.0 / (60 + F.col("lex_rk")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("vec_rk")), F.lit(0.0))
        ).alias("rrf"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    got = [
        (r.doc_id, r.rrf)
        for r in fused.withColumn("rk", F.row_number().over(w))
        .orderBy("rk")
        .collect()
    ]

    lr = {d: r for _, d, r in lex}
    vr = {d: r for _, d, r in vec}
    score = {
        d: (1.0 / (60 + lr[d]) if d in lr else 0.0)
        + (1.0 / (60 + vr[d]) if d in vr else 0.0)
        for d in set(lr) | set(vr)
    }
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == [(d, s) for d, s in want]
    # the tie pair fused to the same double and doc_id broke it
    assert score[10] == score[11]


def _pagerank_model(edges, nodes, iters, d, scale):
    """Pure-Python replay of pagerank_fixed_point's documented
    arithmetic contract, including a ``dst`` outside ``nodes``: it
    joins the rank frame after one iteration but never counts in N."""
    outdeg = {}
    for (u, _v), c in edges.items():
        outdeg[u] = outdeg.get(u, 0) + c
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = dict.fromkeys(nodes, 0)
        for (u, v), c in edges.items():
            if u in r:
                contrib[v] = contrib.get(v, 0) + c * (r[u] // outdeg[u])
        dang = sum(rv for v, rv in r.items() if v not in outdeg)
        r = {
            v: (scale * (100 - d) // 100) // n + d * (m + dang // n) // 100
            for v, m in contrib.items()
        }
    return r


def test_pagerank_fixed_point_matches_python_model(spark):
    """pagerank_fixed_point vs a dependency-free big-int Python replay
    on a randomized weighted digraph with dangling nodes and an
    isolated node — every intermediate op is integer, so the match is
    exact, not approximate."""
    from flink_demo_spark.operators.graph import pagerank_fixed_point

    rng = random.Random(8191)
    n_nodes, scale, d, iters = 9, 10**12, 85, 4
    edges = {}
    for _ in range(30):
        # sources drawn from 0..6 only, so node 7 provably has NO
        # out-edges while RECEIVING rank mass (true dangling node) and
        # node 8 is fully isolated — both no-out-edge branches covered
        u, v = rng.randrange(n_nodes - 2), rng.randrange(n_nodes - 1)
        if u != v:
            edges[(u, v)] = edges.get((u, v), 0) + rng.randrange(1, 4)
    edges[(0, 7)] = 2
    nodes = list(range(n_nodes))
    assert not any(u == 7 or u == 8 for u, _ in edges)
    assert any(v == 7 for _, v in edges)

    r = _pagerank_model(edges, nodes, iters, d, scale)

    edf = spark.createDataFrame(
        [(u, v, c) for (u, v), c in edges.items()], "src long, dst long, cnt long"
    )
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    got = {
        row.node: row.rank_fp
        for row in pagerank_fixed_point(
            edf, nodes=ndf, iterations=iters, damping_pct=d, scale=scale
        ).collect()
    }
    assert got == r
    # rank mass is conserved up to the DIV truncation loss
    assert 0 < sum(got.values()) <= scale


def test_pagerank_keeps_dst_outside_explicit_nodes(spark):
    """Contract for nodes ⊊ dst: contributions to a dst missing from
    the explicit node frame are kept (that node gets a rank, and sends
    along its own out-edges from the next iteration), N stays the
    node frame's size, and ``node`` takes dst's type even when the node
    frame's column is narrower."""
    from pyspark.sql.types import LongType

    from flink_demo_spark.operators.graph import pagerank_fixed_point

    scale, d, iters = 10**12, 85, 3
    # 3 and 4 are outside the node frame: 3 relays to 4, 4 is dangling
    edges = {(0, 1): 2, (1, 2): 1, (2, 0): 1, (1, 3): 1, (3, 4): 1}
    nodes = [0, 1, 2]
    edf = spark.createDataFrame(
        [(u, v, c) for (u, v), c in edges.items()], "src long, dst long, cnt long"
    )
    ndf = spark.createDataFrame([(v,) for v in nodes], "node int")
    out = pagerank_fixed_point(
        edf, nodes=ndf, iterations=iters, damping_pct=d, scale=scale
    )
    assert out.schema["node"].dataType == LongType()
    got = {row.node: row.rank_fp for row in out.collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got == _pagerank_model(edges, nodes, iters, d, scale)


def test_sample_priority_matches_python_model(spark, sf_dir):
    """sample_priority vs a big-int Python replay of the floored
    priority contract on the real documents fixture: same top-k set,
    same tau, same estimator column; and the n <= k degenerate case
    keeps everything with tau = 0 (DLT define tau = 0 when the whole
    population is sampled, so the estimator is exact there)."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.corpus import sample_priority

    M, k = 1000000007, 300
    rows = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    # replay with the exact op order: hash first, then % M, then +1
    pri = {
        r.doc_id: (r.n_chars * M)
        // ((((r.doc_id % 1000003) * 2654435761 + 12345) % M) + 1)
        for r in rows
    }
    order = sorted(pri, key=lambda d: (-pri[d], d))
    expect_ids = set(order[:k])
    tau = pri[order[k]] if len(order) > k else 0
    w_by_id = {r.doc_id: r.n_chars for r in rows}

    got = sample_priority(spark, sf_dir).collect()
    assert {r.doc_id for r in got} == expect_ids
    for r in got:
        assert r.priority == pri[r.doc_id]
        assert r.est_weight == max(w_by_id[r.doc_id], tau)
    # the global top-k cut must be the scalable TakeOrderedAndProject
    plan = sample_priority(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sample_priority_degenerate_small_population(spark):
    """n <= k: everything kept, tau = 0, estimator equals the raw
    weight (checked on a 5-row synthetic frame via the same code
    path as the registry query)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    M, k = 1000000007, 300
    df = spark.createDataFrame(
        [(i, 10 * (i + 1)) for i in range(5)], "doc_id long, n_chars long"
    )
    pri = F.expr(
        "n_chars * 1000000007"
        " DIV ((((doc_id % 1000003) * 2654435761 + 12345) % 1000000007) + 1)"
    )
    s = df.select("doc_id", "n_chars", pri.alias("priority"))
    top = s.orderBy(F.desc("priority"), "doc_id").limit(k + 1)
    out = (
        top.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("priority"), "doc_id"))
        )
        .withColumn(
            "__tau",
            F.max(
                F.when(F.col("rn") == k + 1, F.col("priority")).otherwise(
                    F.lit(0).cast("long")
                )
            ).over(Window.partitionBy()),
        )
        .where(F.col("rn") <= k)
        .select("doc_id", "n_chars", F.greatest("n_chars", "__tau").alias("est_weight"))
        .collect()
    )
    assert len(out) == 5
    assert all(r.est_weight == r.n_chars for r in out)


def test_quality_stratified_cut_keeps_ceil_40pct_per_stratum(spark, sf_dir):
    """Every (lang, source) stratum keeps exactly ceil(0.4 * n) rows,
    and the kept rows are the stratum's rank-best by (quality_bp desc,
    doc_id) — checked against a Python replay on the full fixture."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.datapipe import quality_stratified_cut
    from flink_demo_spark.plans.datapipe import text_quality_score

    scores = {
        r.doc_id: r.quality_bp
        for r in text_quality_score(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    ).collect()
    strata = {}
    for r in docs:
        strata.setdefault((r.lang, r.source), []).append(r.doc_id)
    expect = set()
    for ids in strata.values():
        ids.sort(key=lambda d: (-scores[d], d))
        expect.update(ids[: (4 * len(ids) + 9) // 10])

    got = quality_stratified_cut(spark, sf_dir).collect()
    assert {r.doc_id for r in got} == expect
    assert all(r.quality_bp == scores[r.doc_id] for r in got)


def test_text_collocations_matches_python_model(spark, sf_dir):
    """Discounted-PMI collocation scores vs a big-int Python replay on
    the real fixture — counts, discount, fixed-point floor, min-count
    filter, and the top-50 (score desc, word1, word2) cut."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.corpus import text_collocations

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    c1: dict = {}
    c12: dict = {}
    n = 0
    for t in texts:
        ws = t.strip().lower().split()
        for w in ws:
            c1[w] = c1.get(w, 0) + 1
            n += 1
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
    scored = [
        (a, b, c, c1[a], c1[b], (c - 2) * n * 10000 // (c1[a] * c1[b]))
        for (a, b), c in c12.items()
        if c >= 3
    ]
    scored = [s for s in scored if s[5] > 0]
    scored.sort(key=lambda s: (-s[5], s[0], s[1]))
    want = scored[:50]

    got = [
        (r.word1, r.word2, r.c12, r.n_w1, r.n_w2, r.pmi_fp)
        for r in text_collocations(spark, sf_dir).collect()
    ]
    assert got == want


def test_batch_by_length_matches_python_model(spark, sf_dir):
    """Sorted-batching and the integer padding audit vs a Python
    replay on the real fixture: same batches, same waste figures, and
    every batch's max really is its first (longest) member."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.datapipe import batch_by_length

    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    shards: dict = {}
    for r in rows:
        n = len(r.text.strip().split())
        shards.setdefault((n // 16, r.doc_id % 8), []).append((n, r.doc_id))
    want = {}
    for (bucket, shard), members in shards.items():
        members.sort(key=lambda m: (-m[0], m[1]))
        for b0 in range(0, len(members), 8):
            batch = members[b0 : b0 + 8]
            nd = len(batch)
            mx = max(n for n, _ in batch)
            sm = sum(n for n, _ in batch)
            want[(bucket, shard, b0 // 8)] = (
                nd, mx, sm, (nd * mx - sm) * 10000 // (nd * mx)
            )

    got = {
        (r.bucket, r.shard, r.batch_id): (r.n_docs, r.max_len, r.sum_len, r.pad_waste_bp)
        for r in batch_by_length(spark, sf_dir).collect()
    }
    assert got == want


def test_vad_segments_matches_python_model(spark, sf_dir):
    """VAD segmentation vs a pure-Python replay of the closed-form
    clips: frame energies, the short tail frame's normalized
    threshold, and the island merge — exact on every segment."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.datapipe import multimodal_vad_segments

    ids = [
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    want = set()
    for i in ids:
        n = 800 + 16 * (i % 17)
        vs = [((i * 31 + t * 7) % 4096) - 2048 for t in range(n)]
        active = []
        for f0 in range(0, n, 160):
            seg = vs[f0 : f0 + 160]
            e = sum(v * v for v in seg)
            if e // len(seg) > 1400000:
                active.append((f0 // 160, e))
        run: list = []
        for fno, e in active:
            if run and fno == run[-1][0] + 1:
                run.append((fno, e))
            else:
                if run:
                    want.add((i, run[0][0], run[-1][0], len(run), sum(x for _, x in run)))
                run = [(fno, e)]
        if run:
            want.add((i, run[0][0], run[-1][0], len(run), sum(x for _, x in run)))

    got = {
        (r.doc_id, r.seg_start, r.seg_end, r.n_frames_seg, r.seg_energy)
        for r in multimodal_vad_segments(spark, sf_dir).collect()
    }
    assert got == want


def test_shot_boundaries_matches_python_model(spark, sf_dir):
    """Shot-boundary SAD vs a pure-Python replay of the closed-form
    clips — every transition's exact int64 SAD and the threshold cut."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.datapipe import multimodal_shot_boundaries

    ids = [
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    want = set()
    for i in ids:
        n = 3 + i % 4
        for f in range(1, n):
            sad = 0
            for x in range(8):
                for y in range(6):
                    a = (i + 17 * (f - 1) + x + 2 * y) % 256
                    b = (i + 17 * f + x + 2 * y) % 256
                    sad += abs(b - a)
            if sad > 1500:
                want.add((i, f, n, sad))

    got = {
        (r.doc_id, r.frame_no, r.n_frames, r.sad)
        for r in multimodal_shot_boundaries(spark, sf_dir).collect()
    }
    assert got == want


def test_vad_local_segmentation_equals_batch_windowed(spark, sf_dir):
    """The in-UDF segment merge (streaming form) must equal the batch
    gaps-and-islands plan row for row — the two forms share an oracle,
    so any divergence is an engine bug, not a semantics choice."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.operators import multimodal
    from flink_demo_spark.operators import text
    from flink_demo_spark.plans.datapipe import multimodal_vad_segments

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clips = multimodal.synthesize_wav_clips(text.fan_out(docs), "doc_id")
    local = {
        tuple(r)
        for r in multimodal.wav_vad_segments_local(
            clips, "doc_id", "audio", frame=160
        ).collect()
    }
    windowed = {tuple(r) for r in multimodal_vad_segments(spark, sf_dir).collect()}
    assert local == windowed


def test_waterfill_matches_python_model_randomized(spark):
    """The prefix-sum waterfill must equal a brute-force Python search
    for the exact integer water level, across randomized domain-count
    profiles including ones where the budget caps nothing (budget =
    total) and ones with heavy skew."""
    from pyspark.sql import Window as W

    rng = random.Random(8471)
    for trial in range(6):
        n = rng.randrange(2, 9)
        toks = {f"d{j}": rng.randrange(1, 10000) for j in range(n)}
        total = sum(toks.values())
        num, den = rng.choice([(8, 10), (6, 10), (10, 10), (99, 100)])
        budget = total * num // den

        # brute force: scan candidate water levels at every breakpoint
        def used(c):
            return sum(min(t, c) for t in toks.values())

        order = sorted(toks.items(), key=lambda kv: (kv[1], kv[0]))
        pfx, cap = 0, None
        for i, (_, t) in enumerate(order):
            if pfx + (n - i) * t >= budget:
                cap = (budget - pfx) // (n - i)
                break
            pfx += t
        assert cap is not None  # budget <= total guarantees a breakpoint
        assert used(cap) <= budget < used(cap + 1) + 1  # exact level

        df = spark.createDataFrame(
            [(d, t) for d, t in toks.items()], "lang string, toks long"
        )
        tot = df.agg(
            F.sum("toks").alias("total"), F.count(F.lit(1)).alias("n")
        ).select(
            F.expr(f"CAST(total * {num} DIV {den} AS BIGINT)").alias("budget"),
            "n",
        )
        wo = W.orderBy("toks", "lang")
        s = (
            df.crossJoin(F.broadcast(tot))
            .withColumn("rk", F.row_number().over(wo))
            .withColumn(
                "pfx",
                F.coalesce(
                    F.sum("toks").over(wo.rowsBetween(W.unboundedPreceding, -1)),
                    F.lit(0),
                ).cast("long"),
            )
        )
        got = (
            s.where(F.expr("pfx + (n - rk + 1) * toks >= budget"))
            .orderBy("rk")
            .limit(1)
            .select(F.expr("CAST((budget - pfx) DIV (n - rk + 1) AS BIGINT)").alias("cap"))
            .collect()[0].cap
        )
        assert got == cap, (trial, toks, budget, got, cap)


def test_novelty_score_matches_python_model(spark, sf_dir):
    """Novelty basis points vs a pure-Python shingle/census replay on
    the real fixture — distinct-within-doc semantics, df==1 uniqueness,
    and the integer floor."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.datapipe import text_novelty_score

    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    grams = {}
    for r in rows:
        t = r.text.strip().split()
        grams[r.doc_id] = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
    df: dict = {}
    for gs in grams.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    want = {}
    for d, gs in grams.items():
        if not gs:
            continue
        uniq = sum(1 for g in gs if df[g] == 1)
        want[d] = (len(gs), uniq, uniq * 10000 // len(gs))

    got = {
        r.doc_id: (r.n_grams, r.n_unique, r.novelty_bp)
        for r in text_novelty_score(spark, sf_dir).collect()
    }
    assert got == want


def test_exact_median_matches_python_model(spark, sf_dir):
    """Census-selection median vs Python's sorted-list order
    statistics on the real fixture (both lower and upper medians)."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.datapipe import exact_median_nchars

    vals = sorted(
        r.n_chars
        for r in load_table(spark, sf_dir, "documents").select("n_chars").collect()
    )
    n = len(vals)
    row = exact_median_nchars(spark, sf_dir).collect()[0]
    assert row.n_docs == n
    assert row.median_lo == vals[(n + 1) // 2 - 1]
    assert row.median_hi == vals[n // 2]


def test_user_event_diversity_matches_python_model(spark, sf_dir):
    """Gini-Simpson basis points vs a Python replay on the real
    fixture — exact integer floor, including single-type users
    (diversity must be exactly 0, not epsilon)."""
    from flink_demo_spark.catalog import load_table
    from flink_demo_spark.plans.behavior import user_event_diversity

    rows = load_table(spark, sf_dir, "events").select("user_id", "event_type").collect()
    counts: dict = {}
    for r in rows:
        counts.setdefault(r.user_id, {}).setdefault(r.event_type, 0)
        counts[r.user_id][r.event_type] += 1
    want = {}
    for u, cs in counts.items():
        n = sum(cs.values())
        want[u] = (n, 10000 - sum(c * c for c in cs.values()) * 10000 // (n * n))

    got = {
        r.user_id: (r.n_events, r.diversity_bp)
        for r in user_event_diversity(spark, sf_dir).collect()
    }
    assert got == want
    assert all(0 <= d <= 10000 for _, d in got.values())
