"""A tiny traced run of every workload: the event-log fold gives every
layer of that workload a row with task time, skew, GC,
shuffle read/write, spill, Python bytes and job count; the independently
measured layer self times (plus the checkpoint overhead, and the docs
scan on infer) account for the run's wall; the tracing overhead is
reported."""

import json
import os

import pytest

import eventlog
import run

SMALL = {"infer": {"n_docs": 300, "n_surfaces": 5000},
         "kg_build": {"n_base_docs": 200, "n_families": 120},
         "kg_update": {"standing_triples": 2000, "warmup_batches": 1,
                       "timed_batches": 3}}

LAYERS = {
    "infer": ["sources", "extraction.ner", "extraction.relation",
              "extraction.pipeline"],
    "kg_build": ["operators.dedup", "sources", "extraction.ner",
                 "extraction.relation", "extraction.pipeline", "linking",
                 "graph.cc", "graph.kg", "plans.checkpoint"],
    "kg_update": ["streaming.kg"],
}

#: the terms of each workload's wall account
ACCOUNTED = {
    "infer": ["sources", "extraction.ner", "extraction.relation",
              "extraction.pipeline", "io"],
    "kg_build": ["operators.dedup", "sources", "extraction.pipeline",
                 "linking", "graph.cc", "graph.kg", "plans.checkpoint"],
    "kg_update": ["streaming.kg"],
}


@pytest.fixture(scope="module")
def bench():
    run.set_subreaper()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_folds_every_layer(workload, bench):
    record, line = run.measure(workload, 1, 1.0, 1, bench,
                               sizes=SMALL[workload])
    assert line["correct"] and line["failed"] == 0
    table = record["per_layer"]["table"]
    for layer in LAYERS[workload]:
        row = table[layer]
        for field in eventlog.FIELDS + ("self_s",):
            assert row.get(field) is not None, (layer, field)
        assert row["jobs"] >= 1 and row["task_s"] > 0, layer
    account = record["per_layer"]["account"]
    overhead = account["tracing_overhead_s"]
    assert isinstance(overhead, float)
    # each term is measured on its own, so the residual is not zero by
    # construction; the overhead is a difference of medians, hence the
    # extra tenth of the wall
    assert set(ACCOUNTED[workload]) == set(account["parts_s"])
    assert account["unattributed_s"] != 0
    assert abs(account["unattributed_s"]) <= \
        abs(overhead) + 0.1 * account["wall_s"]
    names = {m["name"] for m in bench["per_layer"]}
    assert set(line["metrics"]) == names
    assert line["metrics"]["session.start_s"]["value"] > 0
    assert line["metrics"]["tracing.overhead_s"]["value"] == overhead
