"""bench.py trim-rung regression tests (VERDICT r13 'Next round' #1).

The r13 last-rung trim emitted ``int(v)`` after checking
``round(v, 1).is_integer()``: for v in [n.95, n+1.0) the rounded value is
integral but ``int(v)`` truncates DOWN — q_curation_pipeline2's 0.96 s
printed as 0 and the driver counted the key as dropped. The fix
integerizes the ROUNDED value; these tests pin the boundary behaviour and
that the fully-trimmed 83-key line still fits the 1975-char hard guard.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def test_trim_second_boundaries():
    # the r13 bug class: values just under an integer must round UP
    assert bench._trim_second(0.96) == 1
    assert bench._trim_second(1.96) == 2
    assert bench._trim_second(2.96) == 3
    # 0.95 in binary float sits just BELOW .95, so round(v,1) is 0.9 —
    # that is 1-decimal rounding working as documented, not truncation
    assert bench._trim_second(0.95) == round(0.95, 1)
    # invariant: the emitted value always equals round(v, 1) numerically
    for v in (0.04, 0.96, 1.04, 1.96, 2.5, 3.449, 7.77):
        assert bench._trim_second(v) == round(v, 1)
    # plain rounding unchanged
    assert bench._trim_second(2.04) == 2
    assert bench._trim_second(0.04) == 0
    assert bench._trim_second(1.23) == 1.2
    assert bench._trim_second(1.25) in (1.2, 1.3)  # banker's rounding ok
    # exact integers stay ints (no '.0' on the driver line)
    assert bench._trim_second(3.0) == 3
    assert bench._trim_second(0.0) == 0


def test_trim_second_emits_int_type_for_integral():
    v = bench._trim_second(0.96)
    assert isinstance(v, int)
    v = bench._trim_second(1.23)
    assert isinstance(v, float)


def test_round_baseline_ignores_core_count_variants(tmp_path):
    """load_round_baseline must pick the canonical BENCH_r{N}.json, not
    a suffixed variant at another core count (BENCH_r13_c8.json is the
    driver's 8-core scaling run — comparing a 32-core run against it
    corrupts every delta_x). Synthetic files, so the answer does not
    depend on which rounds are committed."""

    def write(name, **parsed):
        (tmp_path / name).write_text(json.dumps({"parsed": {"queries": {"q": 1.0}, **parsed}}))

    write("BENCH_r12.json")
    write("BENCH_r13.json")
    write("BENCH_r13_c8.json")
    write("BENCH_r14_c8.json")
    picked = bench.load_round_baseline(str(tmp_path))
    assert picked is not None
    name, _, gate = picked
    assert name == "BENCH_r13.json"
    assert gate is True


def test_fully_trimmed_line_fits_hard_guard():
    """Realistic-worst-case driver line at the current HEADLINE key
    count: every key at a 3-char 1-decimal value ('9.9' — no sf0.1 key
    has ever exceeded 10 s), degraded stamped true, must stay under the
    1975-char assert in bench.main()."""
    keys = bench.HEADLINE
    line = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": {k: bench._trim_second(9.94) for k in keys},
        "sf": 0.1,
        "degraded": True,
    }
    out = json.dumps(line, separators=(",", ":"))
    assert len(out) < 1975, f"{len(out)} chars at {len(keys)} keys"
