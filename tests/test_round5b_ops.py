"""Round-5 third-session operators: DSIR importance selection, label
propagation communities, JSON payload ingestion. The registry parity
harness covers each end-to-end vs DuckDB; these pin the semantics
against independent Python models."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from pyspark.sql import functions as F

from operator_zoo.functions.curation import dsir_select
from operator_zoo.functions.graph import label_propagation


# ---------------------------------------------------------------------------
# dsir_select — exact integer scores vs a sequential model
# ---------------------------------------------------------------------------

def _h60(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}:{s}".encode()).hexdigest()[:15], 16)


def _dsir_model(docs, target_ids, n_buckets, k):
    grams = []  # (doc_id, bucket)
    for doc_id, text in docs:
        ws = [w for w in text.split(" ") if w]
        for a, b in zip(ws, ws[1:]):
            grams.append((doc_id, _h60(f"{a} {b}", "dsir") % n_buckets))
    cnt_raw = Counter(b for _, b in grams)
    cnt_t = Counter(b for d, b in grams if d in target_ids)
    w_ppm = {
        b: (cnt_t.get(b, 0) + 1) * 1_000_000 // (cnt_raw[b] + 1)
        for b in cnt_raw
    }
    per_doc = {}
    for d, b in grams:
        n, s = per_doc.get(d, (0, 0))
        per_doc[d] = (n + 1, s + w_ppm[b])
    scored = [(d, n, s // n) for d, (n, s) in per_doc.items()]
    scored.sort(key=lambda r: (-r[2], r[0]))
    return [
        (i + 1, d, n, sc) for i, (d, n, sc) in enumerate(scored[:k])
    ]


def test_dsir_select_matches_model(spark):
    docs = [
        (1, "alpha beta alpha beta gamma"),
        (2, "alpha beta delta beta gamma"),
        (3, "zeta eta theta iota kappa"),
        (4, "zeta eta theta zeta eta"),
        (5, "alpha beta zeta eta mixed"),
        (6, "solo"),  # < 2 words: no bigrams, excluded
    ]
    target = {1, 2}
    df = spark.createDataFrame(
        [(d, t, "en" if d in target else "xx") for d, t in docs],
        "doc_id long, text string, lang string",
    )
    got = [
        (r["dsir_rank"], r["doc_id"], r["n_bigrams"], r["score_ppm"])
        for r in dsir_select(
            df, F.col("lang") == "en", n_buckets=64, k=10
        ).collect()
    ]
    assert got == _dsir_model(docs, target, 64, 10)
    # target-looking docs outrank off-target docs
    order = [d for _, d, _, _ in got]
    assert set(order[:2]) == {1, 2}
    assert 6 not in order


def test_dsir_select_partitioning_independent(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(12)),
         "en" if i % 3 == 0 else "xx")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = dsir_select(df.repartition(1), F.col("lang") == "en", k=20).collect()
    b = dsir_select(df.repartition(16), F.col("lang") == "en", k=20).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------------------
# label_propagation — exact labels vs a sequential synchronous model
# ---------------------------------------------------------------------------

def _lpa_model(edges, iters):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {n: n for n in adj}
    for _ in range(iters):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(labels[m] for m in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        labels = nxt
    return labels


def _two_cliques():
    # two 4-cliques bridged by a single edge (3 <-> 10)
    c1 = [(a, b) for a in (0, 1, 2, 3) for b in (0, 1, 2, 3) if a < b]
    c2 = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
    return c1 + c2 + [(3, 10)]


@pytest.mark.parametrize("iters", [1, 3])
def test_label_propagation_matches_model(spark, iters):
    edges = _two_cliques()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iters=iters).collect()
    }
    assert got == _lpa_model(edges, iters)


def test_label_propagation_splits_bridged_cliques(spark):
    # CC would merge everything into one component; LPA keeps the two
    # dense cliques in separate min-label communities.
    df = spark.createDataFrame(_two_cliques(), "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iters=3).collect()
    }
    assert len({got[n] for n in (0, 1, 2)} | {got[n] for n in (11, 12, 13)}) == 2


def test_label_propagation_rejects_bad_iters(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        label_propagation(df, iters=0)


def test_label_propagation_persisted_sink(spark):
    sink: list = []
    df = spark.createDataFrame(_two_cliques(), "src long, dst long")
    out = label_propagation(df, iters=2, persisted_sink=sink)
    n = out.count()
    assert n == 8
    assert len(sink) == 2  # sym edges + the final label relation
    for h in sink:
        h.unpersist()


# ---------------------------------------------------------------------------
# JSON ingestion — null/empty/malformed payloads survive as missing
# ---------------------------------------------------------------------------

def test_json_extract_missing_values(spark):
    rows = [
        (1, "click", '{"k": 5}'),
        (2, "click", None),
        (3, "click", ""),
        (4, "click", "not json"),
        (5, "view", '{"other": 1}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, props string")
    k = (
        F.when(F.col("props").isNull() | (F.col("props") == ""), F.lit(None))
        .otherwise(F.get_json_object("props", "$.k"))
        .cast("long")
    )
    got = {
        r["event_type"]: (r["n"], r["n_k"], r["sum_k"])
        for r in df.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_k"),
            F.sum("k").alias("sum_k"),
        )
        .collect()
    }
    assert got == {"click": (4, 1, 5), "view": (1, 0, None)}


# ---------------------------------------------------------------------------
# quality_ensemble — scores vs a sequential quantile model
# ---------------------------------------------------------------------------

def _ensemble_model(docs, n_bins):
    sig = []
    for d, text in docs:
        ws = [w for w in text.split(" ") if w]
        if not ws:
            continue
        n = len(ws)
        sig.append(
            (
                d,
                n,
                len(set(ws)) * 1_000_000 // n,
                sum(len(w) for w in ws) * 1_000_000 // n,
            )
        )
    cuts = [i / n_bins for i in range(1, n_bins)]

    def bounds(vals):
        sv = sorted(vals)
        m = len(sv)
        # percentile_disc(p): smallest value with cume_dist >= p
        out = []
        for p in cuts:
            for j, v in enumerate(sv, 1):
                if j / m >= p:
                    out.append(v)
                    break
        return out

    bs = [bounds([s[i] for s in sig]) for i in (1, 2, 3)]
    rows = []
    for d, *vals in sig:
        scs = [
            1 + sum(v > b for b in bs[i]) for i, v in enumerate(vals)
        ]
        rows.append((d, *vals, *scs, sum(scs)))
    return sorted(rows)


def test_quality_ensemble_matches_model(spark):
    from operator_zoo.functions.scoring import quality_ensemble

    docs = [
        (1, "a a a a a a"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "alpha beta gamma delta epsilon"),
        (4, "x"),
        (5, "longwordshere everywhere throughout extensive vocabulary"),
        (6, "b b c c d d e e f f g g h h"),
        (7, ""),  # no tokens: excluded
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in quality_ensemble(df, n_bins=4).collect())
    assert got == _ensemble_model(docs, 4)


def test_quality_ensemble_rejects_bad_bins(spark):
    from operator_zoo.functions.scoring import quality_ensemble

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        quality_ensemble(df, n_bins=1)


# ---------------------------------------------------------------------------
# kcore_membership — exact core vs a sequential peeling model
# ---------------------------------------------------------------------------

def _kcore_model(edges, k):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_kcore_matches_model(spark):
    from operator_zoo.functions.graph import kcore_membership

    # a 4-clique (3-core) with a pendant path hanging off it, plus a
    # triangle (2-core only) — peeling must strip the path AND the
    # triangle for k=3
    edges = (
        [(a, b) for a in (0, 1, 2, 3) for b in (0, 1, 2, 3) if a < b]
        + [(3, 4), (4, 5)]
        + [(10, 11), (11, 12), (10, 12)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["core_deg"]
        for r in kcore_membership(df, k=3, rounds=8).collect()
    }
    assert got == _kcore_model(edges, 3)
    assert set(got) == {0, 1, 2, 3}


def test_kcore_fixpoint_early_exit_equals_full_unroll(spark):
    from operator_zoo.functions.graph import kcore_membership

    # long chain into a triangle: k=2 peels one chain node per round,
    # so rounds larger than needed must not change the answer
    edges = [(i, i + 1) for i in range(6)] + [(6, 7), (7, 8), (6, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(
        tuple(r) for r in kcore_membership(df, k=2, rounds=6).collect()
    )
    b = sorted(
        tuple(r) for r in kcore_membership(df, k=2, rounds=20).collect()
    )
    assert a == b == [(6, 2), (7, 2), (8, 2)]


def test_kcore_rejects_bad_params(spark):
    from operator_zoo.functions.graph import kcore_membership

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        kcore_membership(df, k=0)
    with pytest.raises(ValueError):
        kcore_membership(df, k=2, rounds=0)


# ---------------------------------------------------------------------------
# containment_prefix_join — completeness + exactness vs all-pairs model
# ---------------------------------------------------------------------------

def _containment_model(docs, t_pct, shingle):
    sets = {}
    for d, text in docs:
        ws = [w for w in text.split(" ") if w]
        if len(ws) >= shingle:
            sets[d] = {
                " ".join(ws[i : i + shingle])
                for i in range(len(ws) - shingle + 1)
            }
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            inter = len(sa & sb)
            if 100 * inter >= t_pct * len(sa):
                out.add(
                    (a, b, inter, len(sa), len(sb), 100 * inter // len(sa))
                )
    return out


@pytest.mark.parametrize("t_pct", [70, 90, 100])
def test_containment_join_matches_brute_force(spark, t_pct):
    from operator_zoo.functions.dedup import (
        containment_prefix_join,
    )

    base = "a b c d e f g h i j k l"
    docs = [
        (1, base),                      # contained in 2 and 4
        (2, base + " m n o p q r"),     # superset of 1
        (3, "z y x w v u t s"),         # unrelated
        (4, base),                      # exact dup of 1
        (5, "a b c d e f zz yy xx"),    # partial overlap with 1
        (6, "m n o p q r s t u v w x competing overlap doc here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        tuple(r)
        for r in containment_prefix_join(
            df, threshold_pct=t_pct, shingle=3
        ).collect()
    }
    assert got == _containment_model(docs, t_pct, 3)
    if t_pct == 90:
        # the asymmetry is the point: 1 ⊂ 2 but not 2 ⊂ 1
        pairs = {(a, b) for a, b, *_ in got}
        assert (1, 2) in pairs and (2, 1) not in pairs
        assert (1, 4) in pairs and (4, 1) in pairs  # exact dups: both ways


def test_containment_join_rejects_bad_threshold(spark):
    from operator_zoo.functions.dedup import (
        containment_prefix_join,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        containment_prefix_join(df, threshold_pct=0)


# ---------------------------------------------------------------------------
# winsorize_stats — bounds and clipped mass vs a sequential model
# ---------------------------------------------------------------------------

def test_winsorize_stats_matches_model(spark):
    from operator_zoo.functions.profile import winsorize_stats

    vals = {
        "a": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0],  # spike at top
        "b": [-50.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0],  # spike at bottom
    }
    rows = [(g, v) for g, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = {
        r["grp"]: tuple(r)[1:]
        for r in winsorize_stats(df, "value", "grp").collect()
    }

    def model(vs):
        m = sorted(int(v * 1000) // 1 for v in vs)
        mi = [int(__import__("math").floor(v * 1000)) for v in vs]
        m = sorted(mi)
        n = len(m)

        def pdisc(p):
            for j, v in enumerate(m, 1):
                if j / n >= p:
                    return v

        lo, hi = pdisc(1 / 8), pdisc(7 / 8)
        wz = [max(lo, min(hi, v)) for v in mi]
        return (
            n,
            lo,
            hi,
            sum(v < lo for v in mi),
            sum(v > hi for v in mi),
            sum(mi),
            sum(wz),
        )

    assert got == {g: model(vs) for g, vs in vals.items()}


def test_winsorize_stats_rejects_bad_cuts(spark):
    from operator_zoo.functions.profile import winsorize_stats

    df = spark.createDataFrame([("a", 1.0)], "grp string, value double")
    with pytest.raises(ValueError):
        winsorize_stats(df, "value", "grp", lo_eighths=5, hi_eighths=4)


# ---------------------------------------------------------------------------
# forward_fill — LOCF vs a sequential model; no backfill; tie safety
# ---------------------------------------------------------------------------

def test_forward_fill_matches_model(spark):
    from operator_zoo.functions.temporal import forward_fill

    rows = [
        # (id, key, t, v)
        (1, "a", 1, None),   # before first obs: stays NULL
        (2, "a", 2, 10),
        (3, "a", 3, None),   # -> 10, filled
        (4, "a", 4, 20),
        (5, "a", 5, None),   # -> 20, filled
        (6, "b", 1, None),   # other key: own lineage, stays NULL
        (7, "b", 2, 7),
        (8, "b", 3, None),   # -> 7
    ]
    df = spark.createDataFrame(rows, "id long, k string, t long, v long")
    got = {
        r["id"]: (r["v"], r["v_filled"])
        for r in forward_fill(df, "k", "t", ["v"], tiebreak_col="id").collect()
    }
    assert got == {
        1: (None, 0), 2: (10, 0), 3: (10, 1), 4: (20, 0), 5: (20, 1),
        6: (None, 0), 7: (7, 0), 8: (7, 1),
    }


def test_forward_fill_tiebreak_deterministic(spark):
    from operator_zoo.functions.temporal import forward_fill

    # two observations at the SAME timestamp: the tiebreak column
    # decides which one a later row inherits, independent of
    # partitioning
    rows = [(1, "a", 1, 100), (2, "a", 1, 200), (3, "a", 2, None)]
    df = spark.createDataFrame(rows, "id long, k string, t long, v long")
    for parts in (1, 16):
        got = {
            r["id"]: r["v"]
            for r in forward_fill(
                df.repartition(parts), "k", "t", ["v"], tiebreak_col="id"
            ).collect()
        }
        assert got[3] == 200  # id=2 sorts last at t=1


# ---------------------------------------------------------------------------
# streaming token heavy hitters — availableNow parity vs batch HAVING
# ---------------------------------------------------------------------------

def test_streaming_heavy_hitters_batch_parity(spark, tmp_path):
    from pyspark.sql import functions as SF

    from operator_zoo.streaming.heavy_hitters import (
        token_heavy_hitters,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    base_epoch = 1704067200
    rows = []
    # window 0: 'hot' x12, 'warm' x5; window 1: 'hot' x6, 'cold' x2 —
    # spread across many docs so files split the window contributions
    for i in range(12):
        rows.append((f"hot filler{i % 3}", base_epoch + 60 * i))
    for i in range(5):
        rows.append((f"warm pad{i}", base_epoch + 120 * i))
    for i in range(6):
        rows.append((f"hot other{i}", base_epoch + 3600 + 60 * i))
    rows.append(("cold cold", base_epoch + 3600 + 30))
    df = spark.createDataFrame(rows, "text string, epoch long").select(
        "text", SF.timestamp_seconds("epoch").alias("ts")
    )
    df.repartition(3).write.mode("overwrite").parquet(in_dir)
    adv = spark.createDataFrame(
        [("__advancer__", base_epoch + 30 * 86400)], "text string, epoch long"
    ).select("text", SF.timestamp_seconds("epoch").alias("ts"))
    adv.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema("text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        token_heavy_hitters(
            stream, window_duration="1 hour", watermark="2 hours",
            min_count=5,
        )
        .select(
            SF.unix_timestamp("window_start").alias("ws"), "word", "n"
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["ws"], r["word"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        (base_epoch, "hot"): 12,
        (base_epoch, "warm"): 5,
        (base_epoch + 3600, "hot"): 6,
    }
    # the advancer's own window never finalizes -> never in the sink
    assert not any(w == "__advancer__" for _, w in got)


def test_streaming_heavy_hitters_rejects_bad_min_count(spark):
    from operator_zoo.streaming.heavy_hitters import (
        token_heavy_hitters,
    )

    df = spark.createDataFrame([("a", 0)], "text string, epoch long")
    with pytest.raises(ValueError):
        token_heavy_hitters(df, min_count=0)


# ---------------------------------------------------------------------------
# conversion labels — leakage rules pinned against crafted timelines
# ---------------------------------------------------------------------------

def test_conversion_labels_leakage_and_window_rules(spark):
    from operator_zoo.queries import (
        q_events_conversion_labels,
    )
    import tempfile, os
    from pyspark.sql import functions as SF

    day = 86400
    rows = [
        # u1: purchase 2 days after signup -> converted, ttp = 2d
        (1, 10 * day, "signup"), (1, 12 * day, "purchase"),
        # u2: purchase BEFORE signup only -> NOT converted (no leakage)
        (2, 10 * day, "signup"), (2, 9 * day, "purchase"),
        # u3: purchase 8 days after signup -> outside 7d window
        (3, 10 * day, "signup"), (3, 18 * day, "purchase"),
        # u4: two signups; window anchors on the FIRST; purchase 1 day
        # after second signup = 6 days after first -> converted, ttp=6d
        (4, 10 * day, "signup"), (4, 15 * day, "signup"),
        (4, 16 * day, "purchase"),
        # u5: purchase exactly at the 7d boundary -> converted
        (5, 10 * day, "signup"), (5, 17 * day, "purchase"),
        # u6: no signup -> not in output at all
        (6, 10 * day, "purchase"),
    ]
    base = tempfile.mkdtemp(prefix="ptxv_convlab_")
    df = spark.createDataFrame(
        rows, "user_id long, epoch long, event_type string"
    ).select(
        SF.col("user_id"),
        SF.timestamp_seconds("epoch").alias("ts"),
        "event_type",
        SF.lit(0.0).alias("value"),
        SF.lit(0).cast("long").alias("event_id"),
        SF.lit("").alias("props"),
    )
    df.write.mode("overwrite").parquet(os.path.join(base, "events.parquet"))
    got = {
        r["user_id"]: (r["converted"], r["time_to_purchase_sec"])
        for r in q_events_conversion_labels(spark, base).collect()
    }
    assert got == {
        1: (1, 2 * day),
        2: (0, None),
        3: (0, None),
        4: (1, 6 * day),
        5: (1, 7 * day),
    }


# ---------------------------------------------------------------------------
# revenue contribution — shares are exact and sum consistently
# ---------------------------------------------------------------------------

def test_revenue_contribution_shares(spark):
    from operator_zoo.queries import (
        q_agg_revenue_contribution,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_agg_revenue_contribution(spark, sf).collect()
    assert rows
    total = sum(r["revenue_cents"] for r in rows)
    for r in rows:
        assert (
            r["global_share_ppm"]
            == r["revenue_cents"] * 1_000_000 // total
        )
    by_region: dict = {}
    for r in rows:
        by_region.setdefault(r["r_name"], []).append(r)
    for rs in by_region.values():
        rtot = sum(r["revenue_cents"] for r in rs)
        for r in rs:
            assert (
                r["region_share_ppm"]
                == r["revenue_cents"] * 1_000_000 // rtot
            )
        # floor-ppm shares sum to <= 1e6 and within one ppm per row
        s = sum(r["region_share_ppm"] for r in rs)
        assert 1_000_000 - len(rs) <= s <= 1_000_000


# ---------------------------------------------------------------------------
# negative_samples — reproducible draws vs a sequential model
# ---------------------------------------------------------------------------

def _neg_model(rows, k, n_buckets, exclude_same_source=True):
    base = [
        (i, s, _h60(str(i), "negb") % n_buckets) for i, s in rows
    ]
    out = []
    for aid, asrc, ab in base:
        cands = [
            (cid, _h60(f"{aid}:{cid}", "negr"))
            for cid, csrc, cb in base
            if cb == ab and cid != aid
            and (not exclude_same_source or csrc != asrc)
        ]
        cands.sort(key=lambda t: (t[1], t[0]))
        for rk, (cid, draw) in enumerate(cands[:k], 1):
            out.append((aid, rk, cid, draw))
    return sorted(out)


def test_negative_samples_matches_model(spark):
    from operator_zoo.functions.curation import negative_samples

    rows = [(i, f"src{i % 4}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sorted(
        tuple(r) for r in negative_samples(df, k=3, n_buckets=4).collect()
    )
    assert got == _neg_model(rows, 3, 4)
    # hard guard: no negative shares the anchor's source
    src = dict(rows)
    for aid, _, nid, _ in got:
        assert src[aid] != src[nid]


def test_negative_samples_partitioning_independent(spark):
    from operator_zoo.functions.curation import negative_samples

    rows = [(i, f"src{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(tuple(r) for r in negative_samples(df.repartition(1), k=2, n_buckets=2).collect())
    b = sorted(tuple(r) for r in negative_samples(df.repartition(16), k=2, n_buckets=2).collect())
    assert a == b


def test_negative_samples_guards(spark):
    from operator_zoo.functions.curation import negative_samples

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        negative_samples(df, k=0)
    with pytest.raises(ValueError):
        negative_samples(df, n_buckets=0)
