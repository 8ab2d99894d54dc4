"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import measure  # noqa: E402
from measure import Span, covered_s, self_times  # noqa: E402
from workloads import Ctx, Op, check_frame, check_parts, outcome, wordcount_reference  # noqa: E402


# -- percentile rule ------------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50), (19, 50), (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99), (5000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert measure.tail_percentile(n) == pct
    if pct > 50:
        # at least 10 samples lie strictly above the chosen percentile
        values = list(range(n))
        cut = np.percentile(values, pct)
        assert sum(v > cut for v in values) >= 10


def test_tail_reports_value_percentile_and_count():
    values = [float(i) for i in range(1, 101)]
    value, pct, n = measure.tail(values)
    assert (pct, n) == (90, 100)
    assert value == pytest.approx(90.1)


def test_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        measure.tail([])


# -- self time ------------------------------------------------------------------


def _span(layer, start, end):
    return Span(layer, layer, float(start), float(end))


def test_self_time_is_span_minus_children():
    tree = [
        (_span("op", 0, 10), 0),
        (_span("queries", 0, 4), 1),
        (_span("catalog", 1, 2), 2),
        (_span("exec", 4, 9), 1),
        (_span("catalyst", 4, 5), 2),
    ]
    got = self_times(tree)
    assert got == pytest.approx({"op": 1, "queries": 3, "catalog": 1, "exec": 4, "catalyst": 1})
    assert sum(got.values()) == pytest.approx(10)


def test_self_time_counts_overlapping_children_once():
    # two concurrent jobs inside a collect, one running past the op's end
    tree = [
        (_span("op", 0, 10), 0),
        (_span("collect", 2, 10), 1),
        (_span("exec", 3, 7), 2),
        (_span("exec", 5, 11), 2),
    ]
    got = self_times(tree)
    assert got == pytest.approx({"op": 2, "collect": 1, "exec": 7})
    assert sum(got.values()) == pytest.approx(10)


def test_covered_time_leaves_out_the_roots_own_self_time():
    # same tree as above: the op's own 2 s are not covered by any layer
    tree = [
        (_span("op", 0, 10), 0),
        (_span("collect", 2, 10), 1),
        (_span("exec", 3, 7), 2),
        (_span("exec", 5, 11), 2),
    ]
    assert covered_s(tree) == pytest.approx(8)
    assert covered_s(tree[:1]) == 0
    # two disjoint children, one starting before the root
    tree = [(_span("op", 0, 10), 0), (_span("exec", -1, 3), 1), (_span("exec", 6, 8), 1)]
    assert covered_s(tree) == pytest.approx(5)


def test_process_age_counts_from_interpreter_start():
    age = measure.process_age_s()
    assert 0 < age < 3600


def test_steal_share():
    assert measure.steal_share((10, 1000), (30, 1400)) == pytest.approx(0.05)
    assert measure.steal_share((10, 1000), (10, 1000)) == 0.0
    steal, total = measure.host_cpu_ticks()
    assert 0 <= steal <= total


def test_tracer_subtree_depths_and_self_times():
    tr = measure.Tracer()
    with tr.span("op", "op") as op:
        with tr.span("build", "queries") as build:
            pass
        tr.add("job", "exec", build.end, build.end + 0.0)
    tree = tr.subtree(op)
    assert [(s.name, d) for s, d in tree] == [("op", 0), ("build", 1), ("job", 1)]
    assert sum(self_times(tree).values()) == pytest.approx(op.wall)


# -- metric names -----------------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "exec.cpu_per_run", "p-99", "9lives", "a" * 64])
def test_valid_metric_names(name):
    assert measure.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "slash/name", "ünicode", "a" * 65])
def test_invalid_metric_names(name):
    assert not measure.valid_metric_name(name)


def test_benchmark_json_names_and_units_are_valid():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            names.append(m["name"])
            assert measure.valid_unit(m["unit"]), m
    assert all(measure.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))


# -- corrupted results count as failed operations ------------------------------------


def _frame():
    return pd.DataFrame({"token": ["a", "b"], "freq": [3, 5]})


def test_matching_frame_passes():
    ok, _ = check_frame(_frame(), _frame())
    assert ok


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda df: df.assign(freq=[3, 6]),  # a wrong value
        lambda df: df.iloc[:1],  # a lost row
        lambda df: df.assign(freq=df.freq.astype(float)),  # int vs float stringifies differently
        lambda df: df.rename(columns={"freq": "n"}),  # a renamed column
        lambda df: df.iloc[:0],  # nothing at all
    ],
)
def test_corrupted_frame_is_a_failed_operation(corrupt):
    ok, detail = check_frame(corrupt(_frame()), _frame())
    assert not ok and detail
    ops = [Op("good", 1.0, True), Op("corrupted", 1.0, ok, detail)]
    assert outcome(ops) == {"attempted": 2, "failed": 1, "correct": False, "failed_op_ratio": 0.5}


def test_empty_result_fails_even_against_an_empty_oracle():
    # an input that yields no rows checks nothing, so it is not a pass
    ok, detail = check_frame(_frame().iloc[:0], _frame().iloc[:0])
    assert not ok and detail == "empty result"


def _parts(tmp_path, corpus_text, reducers=3):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "input000.txt").write_text(corpus_text)
    expected = wordcount_reference(corpus, reducers)
    out = tmp_path / "out"
    out.mkdir()
    for i, lines in enumerate(expected):
        (out / f"part-{i:05d}").write_text("".join(f"{x}\n" for x in lines))
    return out, expected


def test_wordcount_parts_check(tmp_path):
    out, expected = _parts(tmp_path, "b a c\na b d e f g\n")
    assert check_parts(out, expected)[0]
    assert sorted(x for p in expected for x in p) == sorted(
        ["a\t2", "b\t2", "c\t1", "d\t1", "e\t1", "f\t1", "g\t1"]
    )


@pytest.mark.parametrize("damage", ["count", "order", "placement", "missing"])
def test_corrupted_parts_are_a_failed_operation(tmp_path, damage):
    out, expected = _parts(tmp_path, "b a c\na b d e f g h i j\n")
    parts = sorted(out.glob("part-*"))
    target = next(p for p in parts if len(p.read_text().splitlines()) >= 2)
    lines = target.read_text().splitlines()
    if damage == "count":
        key, n = lines[0].split("\t")
        lines[0] = f"{key}\t{int(n) + 1}"
        target.write_text("\n".join(lines) + "\n")
    elif damage == "order":
        target.write_text("\n".join(reversed(lines)) + "\n")
    elif damage == "placement":
        other = next(p for p in parts if p != target)
        other.write_text(other.read_text() + lines[0] + "\n")
        target.write_text("\n".join(lines[1:]) + "\n")
    else:
        parts[-1].unlink()
    ok, detail = check_parts(out, expected)
    assert not ok and detail


def test_check_that_raises_is_a_failure(tmp_path):
    ctx = Ctx(spark=None, tracer=measure.NullTracer(), inputs=tmp_path, work=tmp_path)

    def broken(*_):
        raise RuntimeError("output unreadable")

    ok, detail = ctx.check(broken)
    assert not ok and "output unreadable" in detail
    assert ctx.check_s >= 0
