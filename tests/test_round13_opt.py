"""Round-13 optimization equivalence tests.

Each optimization that rewrote an operator's internals gets a direct
equivalence check against the pre-optimization reference formulation.
"""

from __future__ import annotations

import random

from flink_demo_spark.streaming.lateness import _lateness_apply


def _reference_apply(
    ts_list, max_ts, wins, key0, window_ms, delay_ms, lateness_ms, flush_ts_ms
):
    """The pre-round-13 per-event loop, verbatim semantics: the
    operator's original implementation (driver-verified green through
    round 12) kept as the equivalence oracle for the vectorized path."""
    out = []
    for ts in ts_list:
        if flush_ts_ms is not None and ts >= flush_ts_ms:
            for s in sorted(wins):
                c, f = wins[s]
                if f == 0:
                    out.append((key0, s, 1, c))
            wins.clear()
            continue
        wm = (max_ts - delay_ms) if max_ts is not None else None
        start = (ts // window_ms) * window_ms
        end = start + window_ms
        if wm is not None and end + lateness_ms <= wm:
            continue
        c, f = wins.get(start, (0, 0))
        c += 1
        if wm is not None and end <= wm:
            f += 1
            out.append((key0, start, f, c))
        wins[start] = [c, f]
        if max_ts is None or ts > max_ts:
            max_ts = ts
            new_wm = max_ts - delay_ms
            for s in sorted(wins):
                c2, f2 = wins[s]
                if f2 == 0 and s + window_ms <= new_wm:
                    wins[s] = [c2, 1]
                    out.append((key0, s, 1, c2))
            for s in list(wins):
                if s + window_ms + lateness_ms <= new_wm:
                    del wins[s]
    return out, max_ts


def test_lateness_vectorized_matches_reference_fuzz():
    """200 random replays x random (window, delay, lateness) params,
    multi-batch state carry-over and sentinel splits included: the
    vectorized _lateness_apply must reproduce the per-event loop's
    emits (as a multiset per window), final window state, and final
    watermark exactly."""
    rng = random.Random(1307)
    for trial in range(200):
        window = rng.choice([50, 100, 1000])
        delay = rng.choice([0, 10, 120])
        lateness = rng.choice([0, 30, 250])
        n = rng.randrange(0, 120)
        base = rng.randrange(0, 500)
        # forward drift with heavy jitter: exercises drop / late-refire
        ts = [
            base + i * rng.randrange(0, 40) - rng.randrange(0, 600)
            for i in range(n)
        ]
        use_flush = rng.random() < 0.4
        flush = base + 10_000 if use_flush else None
        if use_flush and n:
            for _ in range(rng.randrange(0, 3)):
                ts[rng.randrange(n)] = flush + rng.randrange(100)
        # split into 1-3 micro-batches to exercise state carry
        cuts = sorted(rng.sample(range(n + 1), rng.randrange(0, 3))) + [n]
        ref_wins, new_wins = {}, {}
        ref_max = new_max = None
        ref_out_all, new_out_all = [], []
        pos = 0
        for cut in cuts:
            chunk = ts[pos:cut]
            pos = cut
            ref_out, ref_max = _reference_apply(
                chunk, ref_max, ref_wins, 7, window, delay, lateness, flush
            )
            new_out, new_max = _lateness_apply(
                chunk, new_max, new_wins, 7, window, delay, lateness, flush
            )
            ref_out_all.extend(ref_out)
            new_out_all.extend(new_out)
        assert sorted(ref_out_all) == sorted(new_out_all), (
            f"trial {trial}: emits diverge\nparams w={window} d={delay} "
            f"l={lateness} flush={flush}\nts={ts}\n"
            f"ref={sorted(ref_out_all)}\nnew={sorted(new_out_all)}"
        )
        assert {int(k): list(v) for k, v in ref_wins.items()} == {
            int(k): list(v) for k, v in new_wins.items()
        }, f"trial {trial}: final window state diverges"
        assert ref_max == new_max, f"trial {trial}: final watermark diverges"
