"""Seeded input generator for the perfbench workloads.

Every input a workload reads is made here from one integer seed: the
same seed gives byte-identical files, a different seed different ones.
The package under test only ever sees the files written here (parquet
docs or triple batches, a model directory in the CLI's ``model.json``
format, a link catalog).

Next to the inputs the generator writes ``expected.json``: digests of
the outputs the package must produce.  They are derived from what was
planted (mentions, relations, duplicate classes, alias families) by a
plain-Python replay of each operator's documented semantics, never by
running the package.  ``expected.json`` also records the measured input
properties (duplicate share, mentions per sentence, table sizes, alias
family sizes, hot-repo share, batch count) that results cite.

``run.py`` calls ``MAKERS[workload](seed, out_dir)`` once per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import string
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_REPO = "org0/repo0"
HOT_SHARE = 0.30
LANGS = ("py", "java", "go", "md")
NER_LABELS = ("CLASS", "FUNC", "LIB", "MODULE", "VAR")
PREDS = ("CALLS", "IMPORTS", "EXTENDS", "USES")
DOC_FILES = 8  # parquet files per doc table: one split per task at local[4..8]

# -- sizes (one place, so the doc page and the results can cite them) -----
INFER = dict(n_docs=5_000, sents_per_doc=4, mentions=(3, 5),
             n_surfaces=100_000, rules_per_sentence=(1, 2))
KG_BUILD = dict(n_base_docs=600, sents_per_doc=4, mentions=(2, 3),
                n_families=700, dup_doc_share=0.2, max_df=40,
                catalog_share=0.5, link_max_distance=2,
                canon_max_distance=1)
KG_UPDATE = dict(n_entities=20_000, zipf_s=1.1, standing_triples=6_000,
                 standing_docs=600, warmup_batches=7, timed_batches=6,
                 batch_triples=400, batch_docs=40)

HEADER = ("licensed under the apache license version 2 0 see the notice "
          "file distributed with this work")


# -- digests ----------------------------------------------------------------
def digest(rows) -> dict:
    """Order-free digest of a table given as an iterable of tuples."""
    enc = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256()
    for line in enc:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(enc), "sha256": h.hexdigest()}


# -- shared pieces ------------------------------------------------------------
def _words(rng, n: int, lo: int, hi: int, taken: set | None = None,
           prefix: str = "") -> list[str]:
    """``n`` distinct random lowercase words, none in ``taken``."""
    taken = set() if taken is None else taken
    letters = np.array(list(string.ascii_lowercase))
    out: list[str] = []
    while len(out) < n:
        lens = rng.integers(lo, hi + 1, size=n)
        chars = rng.integers(0, 26, size=(n, hi))
        for k in range(n):
            w = prefix + "".join(letters[chars[k, :lens[k]]])
            if w not in taken:
                taken.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _doc_meta(rng, n: int) -> list[tuple[str, str, str, str]]:
    """(repo, path, commit, lang) per doc: 13 repos, HOT_SHARE of docs in
    HOT_REPO, so a (repo, lang)-partitioned write has one hot partition."""
    hot = rng.random(n) < HOT_SHARE
    org = rng.integers(1, 4, size=n)
    rep = rng.integers(0, 4, size=n)
    lang = rng.integers(0, len(LANGS), size=n)
    mod = rng.integers(0, 13, size=n)
    commits = rng.integers(0, 2**48, size=n, dtype=np.int64)
    out = []
    for i in range(n):
        repo = HOT_REPO if hot[i] else f"org{org[i]}/repo{rep[i]}"
        lg = LANGS[lang[i]]
        out.append((repo, f"src/mod{mod[i]}/file{i}.{lg}",
                    f"{int(commits[i]):012x}", lg))
    return out


def _write_docs(path: str, meta, contents, doc_ids=None) -> None:
    os.makedirs(path, exist_ok=True)
    cols = {
        "repo": [m[0] for m in meta], "path": [m[1] for m in meta],
        "commit": [m[2] for m in meta], "lang": [m[3] for m in meta],
        "content": contents,
    }
    if doc_ids is not None:
        cols["doc_id"] = pa.array(doc_ids, type=pa.int64())
    table = pa.table(cols)
    step = -(-len(contents) // DOC_FILES)
    for f in range(DOC_FILES):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(path, f"part-{f:04d}.parquet"))


def _write_model(path: str, gazetteer: dict, rules: dict) -> None:
    """The CLI's ``model.json`` layout (``fastie_spark.cli._save_model``)."""
    os.makedirs(path, exist_ok=True)
    blob = {"gazetteer": {" ".join(k): v for k, v in gazetteer.items()},
            "pair_rules": [[s, o, d, lab]
                           for (s, o, d), lab in rules.items()]}
    with open(os.path.join(path, "model.json"), "w") as f:
        f.write(json.dumps(blob, sort_keys=True))


def _plant_sentences(rng, n_sents, mention_range, pick_surface, fillers,
                     rules_range):
    """Sentences with planted mentions and planted relation rules.

    Returns per sentence ``(tokens, mentions)`` where a mention is
    ``(start, end, surface_tuple)``, plus the rule table keyed like
    ``PairRelationModel``: (subject surface, object surface, subject
    start - object start) -> predicate.  A sentence plants one or two
    rules, each on a distinct ordered pair of its mentions.
    """
    sents, rules = [], {}
    n_m = rng.integers(mention_range[0], mention_range[1] + 1,
                       size=n_sents).tolist()
    n_r = rng.integers(rules_range[0], rules_range[1] + 1,
                       size=n_sents).tolist()
    gaps = iter(rng.integers(1, 3, size=n_sents * 8).tolist())
    fill = iter(rng.integers(0, len(fillers), size=n_sents * 24).tolist())
    u = rng.random(size=(n_sents, 2)).tolist()
    preds = rng.integers(0, len(PREDS), size=(n_sents, 2)).tolist()
    for k in range(n_sents):
        toks: list[str] = []
        ments = []
        for _ in range(n_m[k]):
            for _ in range(next(gaps)):
                toks.append(fillers[next(fill)])
            surf = pick_surface()
            ments.append((len(toks), len(toks) + len(surf), surf))
            toks.extend(surf)
        toks.append(fillers[next(fill)])
        pairs = [(a, b) for a in range(len(ments)) for b in range(len(ments))
                 if a != b]
        first = int(u[k][0] * len(pairs))
        chosen = [first, (first + 1 + int(u[k][1] * (len(pairs) - 1)))
                  % len(pairs)][:n_r[k]]
        for j, c in enumerate(chosen):
            a, b = pairs[c]
            key = (" ".join(ments[a][2]), " ".join(ments[b][2]),
                   ments[a][0] - ments[b][0])
            rules[key] = PREDS[preds[k][j]]
        sents.append((toks, ments))
    return sents, rules


def _gold_triples(doc_keys, doc_meta, contents, doc_sents, gazetteer, rules):
    """Replay mention detection, pair typing and the triple explode on
    the planted sentences: every ordered pair of distinct mentions whose
    (surfaces, signed start distance) key is in the rule table."""
    out = []
    for d, sents in enumerate(doc_sents):
        repo, _, _, lang = doc_meta[d]
        sha = hashlib.sha256(contents[d].encode()).hexdigest()
        for sid, (_, ments) in sents:
            for a in ments:
                for b in ments:
                    if a is b:
                        continue
                    sa, sb = " ".join(a[2]), " ".join(b[2])
                    lab = rules.get((sa, sb, a[0] - b[0]))
                    if lab is not None:
                        out.append((doc_keys[d], sid, repo, lang, sha,
                                    a[0], a[1], sa, gazetteer[a[2]], lab,
                                    b[0], b[1], sb, gazetteer[b[2]]))
    return out


def _doc_key(meta) -> str:
    return f"{meta[0]}/{meta[1]}@{meta[2]}"


# -- infer --------------------------------------------------------------------
def make_infer(seed: int, out: str, **sizes) -> dict:
    cfg = dict(INFER, **sizes)
    rng = np.random.default_rng([seed, 1])
    taken: set = set()
    fillers = _words(rng, 4000, 3, 8, taken)
    # gazetteer surfaces: 1-3 tokens, every token owned by one surface, so
    # the only n-gram matches are the planted ones
    widths = rng.choice([1, 2, 3], size=cfg["n_surfaces"], p=[.5, .3, .2])
    stems = _words(rng, cfg["n_surfaces"], 4, 8, taken)
    surfaces = [tuple(f"{stems[i]}_{j}" if widths[i] > 1 else stems[i]
                      for j in range(widths[i]))
                for i in range(cfg["n_surfaces"])]
    labels = rng.integers(0, len(NER_LABELS), size=cfg["n_surfaces"])
    gazetteer = {s: NER_LABELS[labels[i]] for i, s in enumerate(surfaces)}

    n_sents = cfg["n_docs"] * cfg["sents_per_doc"]
    picks = iter(rng.integers(0, len(surfaces), size=n_sents * 6).tolist())
    sents, rules = _plant_sentences(
        rng, n_sents, cfg["mentions"], lambda: surfaces[next(picks)],
        fillers, cfg["rules_per_sentence"])
    meta = _doc_meta(rng, cfg["n_docs"])
    spd = cfg["sents_per_doc"]
    doc_sents = [list(enumerate(sents[d * spd:(d + 1) * spd]))
                 for d in range(cfg["n_docs"])]
    contents = ["\n".join(" ".join(t) for _, (t, _) in ds)
                for ds in doc_sents]
    keys = [_doc_key(m) for m in meta]
    _write_docs(os.path.join(out, "docs"), meta, contents)
    _write_model(os.path.join(out, "model"), gazetteer, rules)
    gold = _gold_triples(keys, meta, contents, doc_sents, gazetteer, rules)
    n_ment = sum(len(m) for _, m in sents)
    n_pairs = sum(len(m) * (len(m) - 1) for _, m in sents)
    props = {
        "docs": cfg["n_docs"], "sentences": n_sents,
        "mentions_per_sentence": n_ment / n_sents,
        "gazetteer_surfaces": len(gazetteer),
        "gazetteer_width_share": {str(w): float(np.mean(widths == w))
                                  for w in (1, 2, 3)},
        "rule_table_size": len(rules),
        "ordered_pairs": n_pairs, "gold_triples": len(gold),
        "rule_hit_share": len(gold) / n_pairs,
        "duplicate_share": 0.0,
        "hot_repo_share": sum(m[0] == HOT_REPO for m in meta) / len(meta),
    }
    expected = {"triples": digest(gold)}
    return _finish(out, "infer", seed, props, expected)


# -- kg_build -----------------------------------------------------------------
def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _alias_families(rng, n_families: int, taken: set):
    """Misspelled alias chains: member k of a family is member k-1 with
    one more letter substituted (never in the 2-letter block prefix), so
    consecutive members are one edit apart and the alias graph of a
    family is a path that takes connected components several rounds.
    Each substitution raises the letter, so a family's smallest name, the
    component label, sits at one end of its path: the round count is set
    by the longest path, not by where a seed happens to put the minimum."""
    sizes = np.where(rng.random(n_families) < 0.35, 1,
                     np.minimum(1 + rng.geometric(0.25, n_families), 9))
    bases = _words(rng, n_families, 10, 14, taken)
    fams = []
    for f, base in enumerate(bases):
        members = [base]
        pos = rng.permutation(np.arange(2, len(base)))[:sizes[f] - 1]
        cur = list(base)
        for p in pos:
            c = string.ascii_lowercase.index(cur[p])
            if c == 25:
                continue
            cur[p] = string.ascii_lowercase[int(rng.integers(c + 1, 26))]
            w = "".join(cur)
            if w in taken:
                break
            taken.add(w)
            members.append(w)
        fams.append(members)
    return fams


def _replay_dedup(doc_ids, texts, n: int, num: int, den: int, max_df: int):
    """``ngram_jaccard_pairs`` semantics: distinct word n-gram shingles,
    shingles in more than ``max_df`` docs dropped, pairs a < b with
    inter * den >= union * num; losers are the ``b`` side."""
    sh = []
    for t in texts:
        w = t.split(" ")
        sh.append({" ".join(w[s:s + n]) for s in range(max(len(w) - n + 1, 0))})
    df = Counter(s for x in sh for s in x)
    sh = [{s for s in x if df[s] <= max_df} for x in sh]
    post = defaultdict(list)
    for i, x in enumerate(sh):
        for s in x:
            post[s].append(i)
    inter = Counter()
    for lst in post.values():
        for i in lst:
            for j in lst:
                if doc_ids[i] < doc_ids[j]:
                    inter[(i, j)] += 1
    losers = set()
    for (i, j), c in inter.items():
        if c * den >= (len(sh[i]) + len(sh[j]) - c) * num:
            losers.add(j)
    return losers, sum(1 for v in df.values() if v > max_df)


def _replay_link(surfaces, catalog, max_distance: int):
    """``link_entities``: same 2-char block, edit distance <= max,
    best by (distance, entity)."""
    by_block = defaultdict(list)
    for alias, ent in catalog:
        by_block[alias[:2]].append((alias, ent))
    out, n_cand = {}, 0
    for s in surfaces:
        best = None
        for alias, ent in by_block.get(s[:2], ()):
            n_cand += 1
            d = _levenshtein(s, alias)
            if d <= max_distance and (best is None or (d, ent) < best):
                best = (d, ent)
        if best is not None:
            out[s] = best[1]
    return out, n_cand


def _replay_canon(names, max_distance: int):
    """``canonicalize_entities``: components of the same-block
    edit-distance graph, canonical name = min member."""
    parent = {x: x for x in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_block = defaultdict(list)
    for x in sorted(names):
        by_block[x[:2]].append(x)
    n_edges = 0
    for block in by_block.values():
        for i, a in enumerate(block):
            for b in block[i + 1:]:
                if _levenshtein(a, b) <= max_distance:
                    n_edges += 1
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    comp = defaultdict(list)
    for x in names:
        comp[find(x)].append(x)
    canon = {x: min(m) for m in comp.values() for x in m}
    return canon, n_edges, comp


def _replay_kg(triples, entity):
    """``materialize_kg`` over (doc_key, subj, subj_label, pred, obj,
    obj_label) with a surface -> entity map."""
    lab = Counter()
    edges = defaultdict(lambda: [0, set()])
    for doc, s, sl, p, o, ol in triples:
        lab[(entity[s], sl)] += 1
        lab[(entity[o], ol)] += 1
        e = edges[(entity[s], entity[o], p)]
        e[0] += 1
        e[1].add(doc)
    per = defaultdict(list)
    for (e, lb), c in lab.items():
        per[e].append((c, lb))
    nodes = [(e, max(v)[1], sum(c for c, _ in v)) for e, v in per.items()]
    return nodes, [(s, d, p, w, len(docs))
                   for (s, d, p), (w, docs) in edges.items()]


def make_kg_build(seed: int, out: str, **sizes) -> dict:
    cfg = dict(KG_BUILD, **sizes)
    rng = np.random.default_rng([seed, 2])
    taken: set = set(HEADER.split(" "))
    fillers = _words(rng, 3000, 3, 7, taken)
    fams = _alias_families(rng, cfg["n_families"], taken)
    fam_label = [NER_LABELS[int(rng.integers(len(NER_LABELS)))] for _ in fams]
    gazetteer = {(m,): fam_label[f] for f, ms in enumerate(fams) for m in ms}
    # skewed family popularity, uniform member within a family
    pop = 1.0 / np.arange(1, len(fams) + 1) ** 0.8
    order = rng.permutation(len(fams))
    n_sents = cfg["n_base_docs"] * cfg["sents_per_doc"]
    fam_pick = iter(order[rng.choice(len(fams), size=n_sents * 4,
                                     p=pop / pop.sum())].tolist())

    def pick():
        ms = fams[next(fam_pick)]
        return (ms[int(rng.integers(len(ms)))],)

    sents, rules = _plant_sentences(rng, n_sents, cfg["mentions"], pick,
                                    fillers, (1, 1))
    spd = cfg["sents_per_doc"]
    bodies = [sents[d * spd:(d + 1) * spd] for d in range(cfg["n_base_docs"])]
    # near-duplicate classes: a copy is its original with one filler
    # token replaced (a fork with a one-word edit)
    docs = [list(b) for b in bodies]
    dup_of = list(range(len(docs)))
    for d in np.nonzero(rng.random(len(bodies)) < cfg["dup_doc_share"])[0]:
        for _ in range(int(rng.integers(1, 3))):
            body = [(list(t), m) for t, m in bodies[d]]
            k = int(rng.integers(len(body)))
            toks, ments = body[k]
            spans = {i for a, b, _ in ments for i in range(a, b)}
            free = [i for i in range(len(toks)) if i not in spans]
            toks[free[int(rng.integers(len(free)))]] = \
                fillers[int(rng.integers(len(fillers)))]
            docs.append(body)
            dup_of.append(int(d))
    n_docs = len(docs)
    perm = rng.permutation(n_docs)  # doc_id order unrelated to copy order
    doc_ids = [int(x) for x in perm]
    meta = _doc_meta(rng, n_docs)
    # header line = boilerplate shared by every doc: all its shingles
    # exceed max_df, so the dedup guard has real work
    doc_sents = [[(0, (HEADER.split(" "), []))]
                 + [(i + 1, s) for i, s in enumerate(body)] for body in docs]
    contents = ["\n".join(" ".join(t) for _, (t, _) in ds)
                for ds in doc_sents]
    keys = [_doc_key(m) for m in meta]

    losers, n_hot = _replay_dedup(
        doc_ids, [c.replace("\n", " ") for c in contents], 3, 4, 5,
        cfg["max_df"])
    keep = [d for d in range(n_docs) if d not in losers]
    triples = _gold_triples([keys[d] for d in keep], [meta[d] for d in keep],
                            [contents[d] for d in keep],
                            [doc_sents[d] for d in keep], gazetteer, rules)
    t6 = [(t[0], t[7], t[8], t[9], t[12], t[13]) for t in triples]

    # catalog: half of the multi-member families, listed by base name,
    # plus one same-block decoy per family (a candidate that never links)
    multi = [f for f, ms in enumerate(fams) if len(ms) > 1]
    listed = rng.choice(multi, size=int(len(multi) * cfg["catalog_share"]),
                        replace=False)
    catalog = [(fams[f][0], fams[f][0]) for f in sorted(listed.tolist())]
    decoys = _words(rng, len(fams), 8, 12, taken)
    catalog += [(fams[f][0][:2] + decoys[f][2:], fams[f][0][:2] + decoys[f][2:])
                for f in range(len(fams))]
    os.makedirs(os.path.join(out, "catalog"), exist_ok=True)
    pq.write_table(pa.table({"alias": [a for a, _ in catalog],
                             "entity": [e for _, e in catalog]}),
                   os.path.join(out, "catalog", "part-0000.parquet"))

    surfaces = sorted({x for t in t6 for x in (t[1], t[4])})
    link, n_cand = _replay_link(surfaces, catalog, cfg["link_max_distance"])
    linked = {s: link.get(s, s) for s in surfaces}
    canon, n_alias_edges, comps = _replay_canon(set(linked.values()),
                                                cfg["canon_max_distance"])
    entity = {s: canon[linked[s]] for s in surfaces}
    nodes, edges = _replay_kg(t6, entity)

    _write_docs(os.path.join(out, "docs"), meta, contents, doc_ids)
    _write_model(os.path.join(out, "model"), gazetteer, rules)
    fam_sizes = Counter(len(ms) for ms in fams)
    n_ment = sum(len(m) for _, m in sents)
    props = {
        "docs": n_docs, "base_docs": cfg["n_base_docs"],
        "duplicate_share": (n_docs - cfg["n_base_docs"]) / n_docs,
        "dedup_survivors": len(keep), "hot_shingles": n_hot,
        "max_df": cfg["max_df"],
        "sentences": sum(len(ds) for ds in doc_sents),
        "mentions_per_sentence": n_ment / n_sents,
        "gazetteer_surfaces": len(gazetteer),
        "rule_table_size": len(rules),
        "alias_family_sizes": {str(k): v for k, v in sorted(fam_sizes.items())},
        "catalog_rows": len(catalog),
        "link_candidates": n_cand, "linked_surfaces": len(link),
        "distinct_surfaces": len(surfaces),
        "canon_names": len(canon), "canon_alias_edges": n_alias_edges,
        "canon_components": len(comps),
        "canon_largest_component": max(len(m) for m in comps.values()),
        "gold_triples": len(t6),
        "hot_repo_share": sum(m[0] == HOT_REPO for m in meta) / n_docs,
    }
    expected = {"nodes": digest(nodes), "edges": digest(edges),
                "triples": digest(triples)}
    return _finish(out, "kg_build", seed, props, expected)


# -- kg_update ----------------------------------------------------------------
def make_kg_update(seed: int, out: str, **sizes) -> dict:
    cfg = dict(KG_UPDATE, **sizes)
    rng = np.random.default_rng([seed, 3])
    names = _words(rng, cfg["n_entities"], 6, 12)
    labels = rng.integers(0, len(NER_LABELS), size=cfg["n_entities"])
    pop = 1.0 / np.arange(1, cfg["n_entities"] + 1) ** cfg["zipf_s"]
    pop /= pop.sum()
    n_batches = 1 + cfg["warmup_batches"] + cfg["timed_batches"]
    sizes = [(cfg["standing_triples"], cfg["standing_docs"])] + \
        [(cfg["batch_triples"], cfg["batch_docs"])] * (n_batches - 1)
    schema = pa.schema([(c, pa.string()) for c in
                        ("doc_key", "subj_text", "subj_label", "pred",
                         "obj_text", "obj_label")])
    top = Counter()
    for b, (n_t, n_d) in enumerate(sizes):
        s = rng.choice(cfg["n_entities"], size=n_t, p=pop)
        o = rng.choice(cfg["n_entities"], size=n_t, p=pop)
        # one mention in ten carries a stray label: majority election matters
        noisy_s = rng.random(n_t) < 0.1
        noisy_o = rng.random(n_t) < 0.1
        stray = rng.integers(0, len(NER_LABELS), size=(2, n_t))
        pred = rng.integers(0, len(PREDS), size=n_t)
        doc = rng.integers(0, n_d, size=n_t)
        top.update(s[:n_t].tolist())
        table = pa.table({
            "doc_key": [f"batch{b}/doc{d}" for d in doc],
            "subj_text": [names[i] for i in s],
            "subj_label": [NER_LABELS[stray[0, k] if noisy_s[k]
                                      else labels[s[k]]] for k in range(n_t)],
            "pred": [PREDS[p] for p in pred],
            "obj_text": [names[i] for i in o],
            "obj_label": [NER_LABELS[stray[1, k] if noisy_o[k]
                                     else labels[o[k]]] for k in range(n_t)],
        }, schema=schema)
        d = os.path.join(out, "batches", f"b{b:04d}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0000.parquet"))
    total = sum(n for n, _ in sizes)
    props = {
        "batches": n_batches, "warmup_batches": cfg["warmup_batches"],
        "timed_batches": cfg["timed_batches"],
        "standing_triples": cfg["standing_triples"],
        "batch_triples": cfg["batch_triples"],
        "batch_to_standing": cfg["batch_triples"] / cfg["standing_triples"],
        "entities": cfg["n_entities"], "zipf_s": cfg["zipf_s"],
        "top1_entity_subject_share": top.most_common(1)[0][1] / total,
        "duplicate_share": 0.0,
    }
    return _finish(out, "kg_update", seed, props, {})


def _finish(out, workload, seed, props, expected) -> dict:
    blob = {"workload": workload, "seed": seed, "properties": props,
            "expected": expected}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(blob, f, indent=1, sort_keys=True)
    return blob


#: workload -> maker(seed, out_dir, **size overrides) -> expected.json blob;
#: the overrides (keys of INFER, KG_BUILD, KG_UPDATE) serve the tests
MAKERS = {"infer": make_infer, "kg_build": make_kg_build,
          "kg_update": make_kg_update}

