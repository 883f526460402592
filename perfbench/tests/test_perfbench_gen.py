"""Generator determinism, recorded input properties, and the gold
replay checked against a brute-force enumeration (no Spark)."""

import filecmp
import json
import os

import pyarrow.dataset as ds
import pytest

import gen

SMALL = {"infer": {"n_docs": 300, "n_surfaces": 5000},
         "kg_build": {"n_base_docs": 200, "n_families": 120},
         "kg_update": {"standing_triples": 2000, "timed_batches": 3}}

PROPERTIES = {
    "infer": ["docs", "duplicate_share", "mentions_per_sentence",
              "gazetteer_surfaces", "rule_table_size", "hot_repo_share"],
    "kg_build": ["docs", "duplicate_share", "mentions_per_sentence",
                 "gazetteer_surfaces", "rule_table_size",
                 "alias_family_sizes", "canon_largest_component",
                 "hot_repo_share"],
    "kg_update": ["batches", "batch_to_standing", "zipf_s",
                  "top1_entity_subject_share"],
}


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(gen.MAKERS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    make = gen.MAKERS[workload]
    a, b, c = (str(tmp_path / x) for x in "abc")
    make(7, a, **SMALL[workload])
    make(7, b, **SMALL[workload])
    make(8, c, **SMALL[workload])
    files = _files(a)
    assert files and files == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert differ


@pytest.mark.parametrize("workload", sorted(gen.MAKERS))
def test_properties_recorded(workload, tmp_path):
    blob = gen.MAKERS[workload](3, str(tmp_path), **SMALL[workload])
    with open(tmp_path / "expected.json") as f:
        assert json.load(f) == json.loads(json.dumps(blob))
    for key in PROPERTIES[workload]:
        assert key in blob["properties"], key


def _brute_force_triples(out):
    """Every gazetteer n-gram at every position, every ordered pair of
    distinct mentions looked up in the rule table: the semantics of
    GazetteerNER + PairRelationModel + explode_triples, enumerated."""
    import hashlib
    with open(os.path.join(out, "model", "model.json")) as f:
        model = json.load(f)
    gaz = {tuple(k.split(" ")): v for k, v in model["gazetteer"].items()}
    rules = {(s, o, d): lab for s, o, d, lab in model["pair_rules"]}
    width = max(len(k) for k in gaz)
    docs = ds.dataset(os.path.join(out, "docs")).to_table().to_pylist()
    rows = []
    for doc in docs:
        key = f"{doc['repo']}/{doc['path']}@{doc['commit']}"
        sha = hashlib.sha256(doc["content"].encode()).hexdigest()
        for sid, line in enumerate(doc["content"].split("\n")):
            toks = line.strip().split()
            ments = [(i, i + w, gaz[tuple(toks[i:i + w])])
                     for i in range(len(toks))
                     for w in range(1, width + 1)
                     if tuple(toks[i:i + w]) in gaz]
            for a in ments:
                for b in ments:
                    if a == b:
                        continue
                    sa = " ".join(toks[a[0]:a[1]])
                    sb = " ".join(toks[b[0]:b[1]])
                    lab = rules.get((sa, sb, a[0] - b[0]))
                    if lab is not None:
                        rows.append((key, sid, doc["repo"], doc["lang"], sha,
                                     a[0], a[1], sa, a[2], lab,
                                     b[0], b[1], sb, b[2]))
    return gen.digest(rows)


def test_infer_gold_equals_brute_force_enumeration(tmp_path):
    blob = gen.make_infer(5, str(tmp_path), **SMALL["infer"])
    assert blob["expected"]["triples"]["rows"] > 0
    assert _brute_force_triples(str(tmp_path)) == blob["expected"]["triples"]


def test_kg_build_inputs_exercise_the_layers(tmp_path):
    props = gen.make_kg_build(5, str(tmp_path),
                              **SMALL["kg_build"])["properties"]
    assert props["dedup_survivors"] < props["docs"]
    assert props["hot_shingles"] > 0
    assert props["linked_surfaces"] > 0
    assert props["canon_largest_component"] >= 3
    assert 0.2 < props["hot_repo_share"] < 0.4
