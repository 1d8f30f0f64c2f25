"""The scale-smoke loop (tools/scale_smoke.py): timing, error capture,
release after each smoke, and the record it writes."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scale_smoke():
    spec = importlib.util.spec_from_file_location(
        "scale_smoke", os.path.join(ROOT, "tools", "scale_smoke.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_smoke_loop_records_and_releases(spark, session_state, tmp_path):
    """One smoke passes and one raises: the record holds the passing
    reading (with its stage sub-keys) and the failure's message, and
    each smoke starts and leaves the session as it found it."""
    mod = _scale_smoke()
    before = session_state()
    seen = []

    def passes(s):
        seen.append(session_state())
        s.range(10).cache().count()
        s.range(5).localCheckpoint()
        return "ok", {"stage": 0.25}

    def fails(s):
        seen.append(session_state())
        s.range(7).cache().count()
        s.range(6).localCheckpoint()
        raise AssertionError("planted failure")

    def unchanged(state):
        # nothing added; Spark's ContextCleaner may meanwhile drop the
        # checkpoint blocks of frames that earlier tests let go of
        return state[0] <= before[0] and state[1] == before[1]

    path = tmp_path / "smoke.json"
    out = mod.run(spark, {"passes": passes, "fails": fails}, str(path))

    assert len(seen) == 2 and all(map(unchanged, seen))
    assert unchanged(session_state())
    assert json.loads(path.read_text()) == out
    assert set(out["queries"]) == {"passes", "passes.stage"}
    assert out["queries"]["passes.stage"] == 0.25
    assert out["value"] == out["queries"]["passes"]
    assert out["errors"] == {"fails": "AssertionError: planted failure"}
    assert set(out["canaries"]) == {"passes", "fails"}
    assert set(out) == {
        "metric", "value", "unit", "queries", "sf", "policy", "canary_min",
        "canary_retries_left", "canaries", "loadavg_start", "loadavg_end", "errors",
    }


def test_every_smoke_is_registered_once():
    """The registry holds every scale-smoke key, keyed by function name."""
    mod = _scale_smoke()
    assert list(mod.SMOKES) == [
        "pack_scale3m", "curate_scale310k", "bloom_dedup_scale1m", "lsh_scale600k",
        "semdedup_scale600k", "semdedup_scale600k_p2", "semdedup_scale600k_p4",
        "semdedup_bi_scale600k", "balance_scale1m", "decontam_bloom_500k",
        "bloom_envelope_40m", "crawl_pipeline_210k", "refinedweb_200k", "fineweb_200k",
        "dolma_200k", "spans_scale1m", "url_dedup_1m", "dsir_scale200k", "nb_scale1m",
        "langid_scale500k", "bpe_scale500k", "phash_scale100k", "mix_scale1m",
        "dbscan_scale3m",
    ]
