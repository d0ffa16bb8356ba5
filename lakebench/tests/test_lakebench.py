"""Tests of the benchmark itself: generator determinism, the percentile
helpers, the oracles, and the metric names and units it prints.

    python3 -m pytest lakebench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import gen  # noqa: E402
import oracle  # noqa: E402
import probe  # noqa: E402

_WRITE_INPUTS = """
import json, os, sys
sys.path.insert(0, {bench!r})
import gen
out = sys.argv[1]
g = gen.CdcGen(7, 2000, 300)
gen.write_parquet(g.base_table(), os.path.join(out, "base.parquet"))
for i in range(3):
    gen.write_parquet(g.next_batch(), os.path.join(out, f"b{{i}}.parquet"))
d = gen.DocGen(7, 50)
for i in range(3):
    gen.write_parquet(d.next_batch(), os.path.join(out, f"d{{i}}.parquet"))
with open(os.path.join(out, "truth.json"), "w") as f:
    json.dump({{"planted": sorted(d.planted.items()), "short": sorted(d.short),
               "probes": gen.read_probes(7, 10, 2000, 0, 10**6)}}, f)
"""


def _digests(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def test_generator_is_byte_identical_across_invocations(tmp_path):
    runs = []
    for k in range(2):
        out = tmp_path / f"run{k}"
        out.mkdir()
        subprocess.run(
            [sys.executable, "-c", _WRITE_INPUTS.format(bench=BENCH), str(out)],
            check=True,
        )
        runs.append(_digests(str(out)))
    assert len(runs[0]) == 8
    assert runs[0] == runs[1]


def test_updated_at_strictly_increases_per_key():
    g = gen.CdcGen(3, 1000, 400)
    base = g.base_table().to_pandas()
    last = dict(zip(base.pk_id, base.updated_at))
    for _ in range(5):
        rows = gen.envelope_rows(g.next_batch()).to_pandas()
        for pk, ts in zip(rows.pk_id, rows.updated_at):
            assert ts > last.get(pk, -1)
            last[pk] = ts


def test_cdc_event_mix_and_intra_batch_repeats():
    g = gen.CdcGen(5, 20_000, 2000)
    g.base_table()
    rows = gen.envelope_rows(g.next_batch()).to_pandas()
    share = rows.change_type.value_counts(normalize=True)
    assert 0.65 < share["UPDATE-INSERT"] < 0.75
    assert 0.15 < share["INSERT"] < 0.25
    assert 0.07 < share["DELETE"] < 0.13
    assert rows.pk_id.duplicated().any()  # precombine has work to do
    assert (rows.is_deleted == (rows.change_type == "DELETE")).all()


def test_read_probes_are_skewed_narrow_and_seeded():
    probes = gen.read_probes(2, 400, 1000, 0, 100_000)
    assert probes == gen.read_probes(2, 400, 1000, 0, 100_000)
    keys = [k for p in probes for k in p["keys"]]
    assert all(1 <= len(p["keys"]) <= 8 for p in probes)
    assert all(gen.PK0 <= k < gen.PK0 + 1000 for k in keys)
    # Zipf toward the newest keys: the newest tenth gets most lookups
    assert sum(k >= gen.PK0 + 900 for k in keys) > len(keys) / 2
    assert all(p["hi"] - p["lo"] == 500 and 0 <= p["lo"] for p in probes)


def test_percentile_helpers():
    xs = [float(v) for v in range(1, 101)]
    assert probe.median(xs) == 50.5
    assert probe.percentile(xs, 90) == pytest.approx(90.1)
    # the highest percentile with at least ten samples beyond it
    assert probe.tail_percentile(xs) == (90.0, pytest.approx(90.1))
    assert probe.tail_percentile(xs[:40])[0] == 75.0
    assert probe.tail_percentile(xs[:20])[0] == 50.0
    assert probe.tail_percentile(xs[:19]) is None
    assert probe.tail_percentile([float(v) for v in range(1000)])[0] == 99.0


def test_cdc_oracle_is_latest_per_key(tmp_path):
    g = gen.CdcGen(9, 500, 200)
    base = str(tmp_path / "base.parquet")
    gen.write_parquet(g.base_table(), base)
    batches = []
    for i in range(3):
        p = str(tmp_path / f"b{i}.parquet")
        gen.write_parquet(g.next_batch(), p)
        batches.append(p)
    frames = [pq.read_table(base).to_pandas()] + [
        gen.envelope_rows(pq.read_table(p)).to_pandas() for p in batches[:2]
    ]
    allrows = pd.concat(frames, ignore_index=True)
    expect = allrows.sort_values("updated_at").groupby("pk_id").tail(1)
    orc = oracle.CdcOracle(base, batches)
    try:
        assert orc.diff_rows(2, expect) == 0
        assert orc.diff_rows(3, expect) > 0
        assert orc.digest(2)[0] == len(expect)
        deleted = expect[expect.is_deleted]
        assert len(deleted) > 0  # soft deletes stay as rows
        assert orc.lookup(2, [int(deleted.pk_id.iloc[0])])[0][-1] is True
    finally:
        orc.close()


def test_dedup_oracle_flags_each_failure():
    planted = {11: (1, "exact"), 12: (2, "near")}
    ids = [1, 2, 5, 11, 12]
    good = {1: ["kept"], 2: ["kept"], 11: ["dropped"], 12: ["dropped"]}

    def fails(verdicts, short=frozenset({5}), corpus=(1, 2)):
        return oracle.dedup_failures(verdicts, ids, planted, set(short), list(corpus))

    assert fails(good) == []
    assert fails({**good, 11: ["kept"]}, corpus=[1, 2, 11])
    assert fails({**good, 1: ["kept", "kept"]})
    assert fails({**good, 5: ["kept"]}, corpus=[1, 2, 5])
    assert fails(good, corpus=[1])
    # a doc that passes the filter but gets no verdict, planted or not
    assert fails({d: v for d, v in good.items() if d != 11})
    assert fails({d: v for d, v in good.items() if d != 2}, corpus=[1])


def test_doc_generator_plants_copies_of_earlier_originals():
    d = gen.DocGen(4, 300)
    texts = {}
    for _ in range(3):
        t = d.next_batch().to_pydict()
        texts.update(zip(t["doc_id"], t["text"]))
    assert d.planted and d.short
    for copy_id, (src, kind) in d.planted.items():
        assert src < copy_id
        if kind == "exact":
            assert texts[copy_id] == texts[src]
        else:
            a, b = texts[copy_id].split(), texts[src].split()
            assert len(a) == len(b) and 0 < sum(x != y for x, y in zip(a, b)) <= 0.1 * len(a) + 1


def test_benchmark_json_matches_the_metrics_printed():
    import run

    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {
        m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]
    } == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric_with_its_unit(trace):
    pytest.importorskip("pyspark")
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    p = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", "cdc_ingest",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
