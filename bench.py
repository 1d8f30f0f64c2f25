"""Benchmark harness — one JSON line to stdout.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, plus
the reference repo's own headline dataset (clus50k.bin, 50k x 10-D,
eps=25 minPts=5 — BASELINE.md: 19.6 s on 2 cores, validated output
46914/3086/51) when present.

Output: {"metric": "total_runtime", "value": N, "unit": "sec",
         "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cs533_big_data_data_mining_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REFERENCE_BIN = "/root/reference/clus50k.bin"


def _entry_module():
    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location("spark_entry", os.path.join(here, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Canary:
    """Fixed ~0.3 s probe interleaved between bench entries — the
    noise-certification instrument the round-9/10 records lacked
    (SCALE.md's four-attempt re-baseline campaign: single queries
    swing 2-4x with coarse host-throttling windows that loadavg alone
    can't localize to a query). One probe runs after every timed run;
    a window is CLEAN when neither its bounding probes exceeds
    ``DIRTY_RATIO`` x the session minimum. The probe is a pure
    whole-stage-codegen aggregation spread over 32 tasks, so it feels
    the same CPU squeeze the queries do while costing no shuffle."""

    DIRTY_RATIO = 2.0

    def __init__(self, spark):
        from pyspark.sql import functions as F  # noqa: PLC0415

        # sized to ~0.3 s on this box (40M rows read 0.042 s — too
        # small: scheduler jitter alone doubles a 40 ms probe and
        # burns the retry budget on phantom dirt)
        self._q = (
            spark.range(0, 320_000_000, 1, 32)
            .select((F.xxhash64("id") % 997).alias("h"))
            .groupBy()
            .sum("h")
        )
        self.min_ = float("inf")
        self.last = None
        for _ in range(3):  # warm codegen + seed the session minimum
            self.probe()

    def probe(self) -> float:
        t0 = time.time()
        self._q.head()
        dt = time.time() - t0
        self.min_ = min(self.min_, dt)
        self.last = dt
        return dt


def _bench_ref(spark, fname, eps, min_pts, want_k, want_noise):
    """A reference-repo workload: full DBSCAN with validated output.
    Returns (wall_seconds, per-stage seconds dict)."""
    from cs533_big_data_data_mining_spark import dbscan, dbscan_stats, read_points_bin

    pts = read_points_bin(spark, f"/root/reference/{fname}").cache()
    pts.count()
    t0 = time.time()
    stages: dict = {}
    labeled = dbscan(pts, eps=eps, min_pts=min_pts, stage_times=stages)
    stats = dbscan_stats(labeled).head()
    dt = time.time() - t0
    print(f"#   stages {fname}: {stages}", file=sys.stderr)
    assert stats["n_clusters"] == want_k and stats["noise_count"] == want_noise, (
        f"{fname} wrong: {stats}"
    )
    labeled.unpersist()
    pts.unpersist()
    return dt, stages


# (bench key, file, eps, minPts, clusters, noise) — all 8 reference
# datasets, mirroring the reference's own sweep (manyTests.py:29-55),
# plus part64 at the reference's published-timing config (eps=0.01,
# minPts=5 — BASELINE.md row 5: 0.6607 s mean on 2 cores over a 96%
# sample; we run 100% of the data, whose deterministic golden is
# 113 clusters / 60143 noise, vs the sampled runs' 113-116 / ~60165).
# Expected values are the sequential-DBSCAN oracle's; where the
# reference published a validated number it agrees (clus50k: 51/3086 @
# manyTests.py:258-266; part64 eps=0.02: 6 clusters @
# Progress-5-Nov-19.txt:31-52)
REF_WORKLOADS = [
    ("dbscan_clus50k_ref", "clus50k.bin", 25.0, 5, 51, 3086),
    ("dbscan_part64_ref", "part64.bin", 0.02, 5, 6, 28585),
    ("dbscan_part64_e001_ref", "part64.bin", 0.01, 5, 113, 60143),
    ("dbscan_t4_ref", "t4.8k.bin", 10.0, 20, 6, 653),
    ("dbscan_t5_ref", "t5.8k.bin", 8.0, 21, 6, 850),
    ("dbscan_t7_ref", "t7.10k.bin", 10.0, 12, 10, 740),
    ("dbscan_t8_ref", "t8.8k.bin", 10.0, 10, 23, 459),
    ("dbscan_texture_ref", "texture17695.bin", 3.0, 2, 47, 1443),
    ("dbscan_edge_ref", "edge17695.bin", 3.0, 2, 9, 97),
]


def main() -> None:
    global LOAD_START
    LOAD_START = [round(x, 2) for x in os.getloadavg()]
    mod = _entry_module()
    qs = mod.queries()
    # no console progress bars: their \r-spam inflates the driver's
    # combined-output tail capture and truncated BENCH_r04's JSON line
    spark = get_spark(
        app_name="cs533_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # warm the JVM/Python-worker pools so per-query times measure the
    # queries, not session spin-up. The Arrow-UDF warmup matters more
    # now that the flagship composites run FIRST: without it the first
    # composite would absorb the Python worker-pool fork cost.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("long")
    def _warm(c):
        return c

    spark.range(0, 10_000, 1, 32).select(_warm(F.col("id"))).count()

    # Noise certification (round-10 verdict #2): every timed run is
    # bracketed by canary probes (the probe AFTER run i doubles as the
    # probe BEFORE run i+1). A dirty window — either bounding probe
    # > 2x the session canary minimum — discards the reading and
    # retries, within a global budget so a persistently-noisy host
    # still produces a record (flagged dirty) instead of spinning.
    can = Canary(spark)
    canaries: dict[str, list] = {}
    retry_budget = [40]

    def timed(name: str, fn, retry: bool = True, max_retries: int | None = None) -> float:
        attempts = []
        used = 0
        while True:
            cb = can.last if can.last is not None else can.probe()
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 3)
            ca = can.probe()
            if ca > Canary.DIRTY_RATIO * can.min_:
                # distinguish EXTERNAL noise from the query's own
                # residue (GC / worker churn right after a heavy
                # multi-job composite): residue decays in seconds,
                # host windows persist minutes — settle and re-probe,
                # judge the window by the better reading
                time.sleep(2.0)
                ca = min(ca, can.probe())
            ratio = round(max(cb, ca) / can.min_, 2)
            attempts.append([dt, ratio])
            clean = ratio <= Canary.DIRTY_RATIO
            # sub-second readings don't move the total enough to spend
            # retry budget on; their dirty flag still lands in the record
            if (
                clean
                or not retry
                or retry_budget[0] <= 0
                or dt <= 1.0
                or (max_retries is not None and used >= max_retries)
            ):
                canaries.setdefault(name, []).extend(attempts)
                return min(a[0] for a in attempts)
            retry_budget[0] -= 1
            used += 1
            print(f"# {name}: dirty window (canary x{ratio}), retrying", file=sys.stderr)

    # Fault isolation: one broken query must not erase the round's
    # entire perf record (round 3 lost all 36 timings to a single
    # AnalysisException). Errors are recorded per-key; the JSON line
    # is always emitted.
    COMPOSITES = {
        "refinedweb_pipeline", "fineweb_pipeline", "stream_eq_all",
        # round-10 multi-job composites: a trained fit + two scoring
        # routes / two full semdedup runs — same many-job rationale
        "langid_route_eq", "semdedup_multiprobe_eq",
    }
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # The flagship composites run FIRST — the session's cleanest
    # window (r11 verdict: both flagships recorded in certified-DIRTY
    # windows with no retry; quiet-box probes showed 2.8x better) —
    # and each gets ONE retry from the canary budget: their many-job
    # structure still makes unbounded retries too expensive, but a
    # single re-run rescues a reading from a transient host window.
    ordered = [n for n in qs if n in COMPOSITES] + [n for n in qs if n not in COMPOSITES]
    for name in ordered:
        fn = qs[name]
        try:
            nrows = []
            timings[name] = timed(
                name,
                lambda: nrows.append(fn(spark, SF_DIR).count()),
                max_retries=1 if name in COMPOSITES else None,
            )
            print(f"# {name}: {timings[name]}s ({nrows[-1]} rows)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — record and continue
            timings.pop(name, None)
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)

    # Warm re-run for the slow queries: their plans are literal-
    # specialized, so the first run pays one-time whole-stage-codegen
    # compilation (up to 3x, same policy as the REF workloads below).
    # Headline key = BEST of the two runs (repeated-measurement
    # minimum): late in a 68-query session an intermittent multi-
    # second driver GC pause lands on one arbitrary victim per run
    # (observed: a 3.8 s query reading 18 s warm), so "the warm run"
    # alone is the noisier estimator. `.cold` preserves the first run.
    # Round 12: the NAMED flagship composites now get the SAME warm
    # re-run (previously excluded to save ~a minute each). Running
    # them FIRST in the session (the round-11 ask) exposed how much
    # one-time cost their single cold run carries — ~10 stages of
    # whole-stage codegen for large constructed-text expressions plus
    # Python-worker pool ramp-up: refinedweb_pipeline measured 58.4 s
    # cold / ~17 s warm on a quiet box. A once-run composite records
    # its own compile time; min(cold, warm) records the query. The
    # old single-run number is preserved under `.cold`, so r11/r12
    # totals remain reconstructable under either estimator. Every
    # other query re-runs when its cold exceeds 2 s, with NO upper
    # cap: this box shows 2-4 min host-level degradation windows at
    # random offsets (observed twice in one session: a 2.3 s query
    # reading 123 s, a 3.3 s one reading 62 s), and the old
    # `cold <= 15 s` rerun condition locked exactly those victims in
    # — the inflated cold DISQUALIFIED the query from the retry that
    # would have corrected it. The whole estimator choice is recorded
    # in the JSON's `policy` key so cross-round totals are read
    # against the same rules.
    # (COMPOSITES defined above the first loop now)
    for name, fn in qs.items():
        if timings.get(name, 0.0) <= 2.0:
            continue
        try:
            warm = timed(name, lambda: fn(spark, SF_DIR).count())
            timings[f"{name}.cold"] = timings[name]
            timings[name] = min(warm, timings[name])
            print(f"# {name}: {warm}s warm (cold {timings[f'{name}.cold']}s)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: warm rerun ERROR {exc}", file=sys.stderr)

    if os.path.exists(REFERENCE_BIN):
        # untimed warm-up: the first dbscan of a session pays one-time
        # JVM JIT + codegen costs (~5-7 s) that would otherwise be
        # charged to whichever workload happens to run first
        try:
            _bench_ref(spark, "t8.8k.bin", 10.0, 10, 23, 459)
        except Exception as exc:  # noqa: BLE001
            print(f"# warmup: ERROR {exc}", file=sys.stderr)
        # Each workload runs twice: the first (cold) run pays one-time
        # whole-stage-codegen compilation for ITS literal-specialized
        # plans (eps/minPts are embedded in generated code, so every
        # config recompiles — up to 3x noise, see README). Headline
        # key = BEST of the two walls (ALL stages: read-from-cache
        # through labeling + stats, which the baseline's numbers
        # exclude) — same repeated-measurement-minimum rationale as
        # the query sweep above (an intermittent driver GC pause can
        # land on either run); `.cold` preserves the first run,
        # per-stage subkeys come from the better run.
        for key, fname, eps, mp, k, noise in REF_WORKLOADS:
            try:
                runs = []  # (wall, stages) per attempt; timed retries dirty windows
                cold = timed(
                    key, lambda: runs.append(_bench_ref(spark, fname, eps, mp, k, noise))
                )
                n_cold = len(runs)
                warm = timed(
                    key, lambda: runs.append(_bench_ref(spark, fname, eps, mp, k, noise))
                )
                timings[key] = min(warm, cold)
                timings[f"{key}.cold"] = cold
                # per-stage subkeys come from the best attempt overall
                walls = [r[0] for r in runs]
                stages = runs[walls.index(min(walls))][1]
                for sname, sdt in stages.items():
                    timings[f"{key}.{sname}"] = round(sdt, 3)
                print(
                    f"# {key}: {timings[key]}s (cold {cold}s over {n_cold} attempts, "
                    f"warm {warm}s over {len(runs) - n_cold})",
                    file=sys.stderr,
                )
            except Exception as exc:  # noqa: BLE001
                errors[key] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# {key}: ERROR {errors[key]}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    # total excludes the per-stage sub-keys ("<workload>.<stage>") so it
    # stays diffable against prior rounds' totals
    total = round(sum(v for k, v in timings.items() if "." not in k), 3)
    out = {"metric": "total_runtime", "value": total, "unit": "sec", "queries": timings, "sf": sf}
    # estimator + machine-load provenance: r6->r7 burned a half-round
    # of verdict analysis on load jitter because neither lived in the
    # artifact (they were only in session memory / commit messages)
    out["policy"] = (
        "per key: min(cold, warm) when cold > 2s (first run kept as .cold),"
        " INCLUDING (new in round 12) the named flagship composites"
        " (refinedweb_pipeline/fineweb_pipeline/stream_eq_all etc), which"
        " run FIRST in the session and previously ran once — their single"
        " cold reading recorded ~10 stages of codegen compile + worker"
        " ramp-up (58 s cold vs ~17 s warm measured quiet) rather than the"
        " query; `.cold` preserves the old estimator's number."
        " Single cold run when cold <= 2s; REF workloads always min"
        " of two full runs. NOISE CERTIFICATION (round 11): every timed run"
        " is bracketed by ~0.3s canary probes; a window where either probe"
        " exceeds 2x the session canary minimum is discarded and retried"
        " (global budget 40 retries; runs <= 1s keep their flag but don't"
        " spend budget). Dirty after-probes settle 2s and re-probe once (a heavy composite's own GC residue decays in seconds; real host windows persist), and the named composites never retry. 'canaries' maps each key to its [seconds,"
        " max-bracket-probe / session-min] attempts — a record is"
        " noise-certified when the kept readings' ratios are ~1."
    )
    out["canary_min"] = round(can.min_, 3)
    out["canary_retries_left"] = retry_budget[0]
    out["canaries"] = canaries
    out["loadavg_start"] = LOAD_START
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    if errors:
        out["errors"] = errors
    payload = json.dumps(out)
    # the full record also lands in-repo: the driver's tail capture has
    # a fixed window and lost the head of round 4's (one-line, ~4 KB)
    # JSON — BENCH_local.json survives regardless of capture size
    here = os.path.dirname(os.path.abspath(__file__))
    # ad-hoc runs at other scale factors must not clobber the
    # canonical sf0.1 record that cross-round comparisons read (the
    # scale smokes write their own record: tools/scale_smoke.py)
    suffix = "" if sf == 0.1 else f"_sf{sf}"
    with open(os.path.join(here, f"BENCH_local{suffix}.json"), "w") as fh:
        fh.write(payload + "\n")
    print(payload, flush=True)

    # LAST line: a compact (<1.5 KB) twin that survives the driver's
    # 2,000-char tail capture, so BENCH_r{N}.json.parsed is non-null
    # even when the full record is truncated (round-5 verdict #5).
    # Headline = the baseline-comparable REF workloads + the most
    # expensive extension queries; the full map is one line up and in
    # BENCH_local.json.
    headline = [w[0] for w in REF_WORKLOADS] + [
        "refinedweb_pipeline", "fineweb_pipeline", "curate_docs", "curate_corpus", "dedup_minhash",
        "dedup_ngram_jaccard", "sim_topk_ivf", "embed_neardup", "pack_sequences",
        "sessionize", "tfidf", "funnel", "asof_purchase_click", "balance_sources",
    ]
    compact_q: dict[str, float] = {}
    budget = 1400 - 120  # envelope overhead
    for k in headline:
        if k in timings:
            entry = len(k) + len(str(timings[k])) + 4
            if budget - entry < 0:
                break
            budget -= entry
            compact_q[k] = timings[k]
    compact = {
        "metric": "total_runtime", "value": total, "unit": "sec",
        "queries": compact_q, "sf": sf,
        "n_queries": len(timings), "n_errors": len(errors),
        # 1-min loadavg at start/end — the noise-provenance field the
        # full record carries in loadavg_start/_end + policy
        "load": [LOAD_START[0], round(os.getloadavg()[0], 2)],
        # noise certification summary: session canary floor + the worst
        # KEPT window ratio across all entries (full detail in
        # BENCH_local.json's 'canaries'); ~1.0 => certified-clean record
        "canary": [
            round(can.min_, 3),
            # the window ratio of each key's KEPT reading (the min
            # attempt), worst across keys — reading the last attempt
            # could certify a record whose kept minima were dirty
            max(
                (min(v, key=lambda a: a[0])[1] for v in canaries.values() if v),
                default=None,
            ),
        ],
    }
    print(json.dumps(compact), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
