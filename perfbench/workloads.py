"""One benchmark process: Spark set-up, one workload, output checks.

``run.py`` starts this file as a fresh Python process for every
measurement, so each one pays its own set-up and keeps no JIT or cache
state from an earlier one.  The process

1. times set-up: process start -> ``get_spark`` -> first JVM job ->
   first Arrow Python job;
2. runs the workload closed-loop (one client, one operation after the
   other), timing each operation: ``infer`` passes for ``--seconds`` and
   at least ``MIN_TIMED`` times, ``kg_build`` builds once and
   ``kg_update`` folds its generated batch sequence;
3. checks every output outside the timed region against the digests in
   the generator's ``expected.json``;
4. with ``--trace 1`` runs the session with the Spark event log on, tags
   every layer call with ``setJobGroup("<workload>:<layer>")`` and folds
   the log into per-layer rows (``eventlog.py``).

It writes one JSON result for ``run.py`` to aggregate.

Usage: ``python3 perfbench/workloads.py --workload infer --inputs DIR
--work DIR --seconds 10 --trace 0 --out result.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from gen import KG_BUILD, digest  # noqa: E402

#: timed infer passes made at least, whatever --seconds says; kg_build
#: makes one build and kg_update folds a fixed batch sequence instead
MIN_TIMED = 3


def du(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))


def read_table(path: str):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def rows_of(table, cols):
    d = table.select(cols).to_pydict()
    return zip(*(d[c] for c in cols))


def list_lengths(path: str, col: str):
    import pyarrow.compute as pc
    t = read_table(path)
    return pc.list_value_length(t.column(col)).to_numpy(zero_copy_only=False)


class Tracer:
    """Layer spans and job groups; does nothing when tracing is off."""

    def __init__(self, spark, workload: str, on: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.on = on
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)

    def group(self, layer: str) -> None:
        if self.on:
            self.sc.setJobGroup(f"{self.workload}:{layer}", layer)

    @contextmanager
    def paused(self):
        """Untagged, unrecorded work (warm-up): it folds into no layer."""
        on, self.on = self.on, False
        if on:
            self.sc.setJobGroup("untraced", "untraced")
        try:
            yield
        finally:
            self.on = on

    @contextmanager
    def layer(self, name: str):
        if not self.on:
            yield
            return
        self.group(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[name].append((t0, time.time()))


def start_session(workload: str, work: str, trace: bool):
    """The user's set-up path; returns (spark, marks)."""
    from fastie_spark import get_spark

    conf = {
        # keep Spark's scratch files inside the benchmark's work dir
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    marks = {"start": time.time()}
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    marks["get_spark"] = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    marks["first_jvm_job"] = time.time()

    def identity(batches):
        yield from batches

    spark.range(1000).mapInPandas(identity, "id long").count()
    marks["first_arrow_job"] = time.time()
    return spark, marks


def timed_loop(op, seconds: float, min_n: int) -> list[dict]:
    """Closed loop: ``op(k)`` until ``seconds`` passed and ``min_n`` ran."""
    out, t_end = [], time.perf_counter() + seconds
    while len(out) < min_n or time.perf_counter() < t_end:
        out.append(op(len(out)))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python workers), alive or already reaped by their parent."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # exited meanwhile
            # fields after "(comm)": state ppid ... utime stime cutime cstime
            rest = stat[stat.rindex(")") + 2:].split()
            procs[int(d)] = (int(rest[1]), sum(map(int, rest[11:15])))
    kids = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        kids[ppid].append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids[pid])
    return ticks / os.sysconf("SC_CLK_TCK")


def clocked(fn, *args) -> tuple[float, float, float]:
    """Run ``fn(*args)``; (wall s, CPU s of the process tree, epoch end)."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    fn(*args)
    wall = time.perf_counter() - t0
    end = time.time()
    return wall, tree_cpu_s() - c0, end


def attempt(fn, *args) -> dict:
    """Run one operation; a raised error is a failed operation."""
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 — counted in error_rate, then reported
        return {"ok": False, "error": traceback.format_exc(limit=8)}


# -- infer ----------------------------------------------------------------------
class Infer:
    """``python -m fastie_spark infer``: load the model directory, run
    ``triples_from_docs`` and write the triples as parquet."""

    name = "infer"

    def __init__(self, spark, inputs, work, tracer, expected):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.tracer, self.expected = tracer, expected
        self.docs = expected["properties"]["docs"]

    def load_model(self):
        from fastie_spark.cli import _load_model
        return _load_model(os.path.join(self.inputs, "model"))

    def write_triples(self, out_dir: str) -> None:
        from fastie_spark.extraction.pipeline import triples_from_docs
        docs = self.spark.read.parquet(os.path.join(self.inputs, "docs"))
        ner, rel = self.load_model()
        triples_from_docs(docs, ner, rel).write.mode("overwrite") \
            .parquet(out_dir)

    def check(self, out_dir: str) -> bool:
        cols = ["doc_key", "sent_id", "repo", "lang", "content_sha",
                "s_start", "s_end", "subj_text", "subj_label", "pred",
                "o_start", "o_end", "obj_text", "obj_label"]
        got = digest(rows_of(read_table(out_dir), cols))
        return got == self.expected["expected"]["triples"]

    def op(self, tag: str, layer: str):
        def run(k):
            out_dir = os.path.join(self.work, f"{tag}{k}")
            with self.tracer.layer(layer):
                wall, cpu, _ = clocked(self.write_triples, out_dir)
            res = {"wall": wall, "cpu": cpu, "ok": self.check(out_dir),
                   "docs": self.docs, "bytes": du(out_dir)}
            shutil.rmtree(out_dir)
            return res
        return lambda k: attempt(run, k)

    def layer_jobs(self) -> dict:
        ner, rel = self.load_model()
        return split_layer_jobs(self.spark, self.tracer, self.work, ner, rel,
                                os.path.join(self.inputs, "docs"),
                                ["sources", "extraction.ner",
                                 "extraction.relation",
                                 "extraction.pipeline"])


def split_layer_jobs(spark, tracer, work, ner, rel, src: str,
                     layers: list[str]) -> dict:
    """Traced only: layers that ``triples_from_docs`` fuses into one job,
    each run as its own job over the previous layer's materialized
    output (the first reads ``src``), next to a pass-through copy of the
    same input.  A layer's self time is its job's wall minus the copy's
    wall; the first copy is the scan and write a fused pass pays once."""
    from fastie_spark.extraction.pipeline import explode_triples
    from fastie_spark.sources.normalize import docs_to_sentences
    fns = {
        "sources": docs_to_sentences,
        "extraction.ner": lambda df: ner.transform(df, out_col="ent_pred"),
        "extraction.relation": lambda df: rel.transform(
            df, mentions_col="ent_pred", out_col="rel_pred"),
        "extraction.pipeline": explode_triples,
    }
    out, paths = {}, {}
    for layer in layers:
        dst = os.path.join(work, f"split_{layer}")
        with tracer.layer(layer):
            t0 = time.perf_counter()
            fns[layer](spark.read.parquet(src)).write.mode("overwrite") \
                .parquet(dst)
            job = time.perf_counter() - t0
        copy_dir = os.path.join(work, "split_copy")
        with tracer.layer("copy"):
            t0 = time.perf_counter()
            spark.read.parquet(src).write.mode("overwrite").parquet(copy_dir)
            copy = time.perf_counter() - t0
        shutil.rmtree(copy_dir)
        out[layer] = {"job_s": job, "copy_s": copy, "self_s": job - copy}
        paths[layer], src = dst, dst
    m = list_lengths(paths["extraction.ner"], "ent_pred")
    r = list_lengths(paths["extraction.relation"], "rel_pred")
    return {"layers": out, "counts": {
        "sentences": len(m), "mentions": int(m.sum()),
        "pairs": int((m * (m - 1)).sum()), "relations": int(r.sum())}}


# -- kg_build -------------------------------------------------------------------
#: (PipelineRunner stage name, layer) in chain order
KG_STAGES = [("dedup", "operators.dedup"), ("ingest", "sources"),
             ("extract", "extraction.pipeline"), ("link", "linking"),
             ("canon", "graph.cc"), ("kg", "graph.kg")]


def kg_stages(ner, rel, catalog, root: str, tracer: Tracer):
    """The KG build as ``PipelineRunner`` stages: dedup -> ingest ->
    extract -> link -> canonicalize -> KG write."""
    from pyspark.sql import functions as F

    from fastie_spark.extraction.pipeline import extract_triples
    from fastie_spark.graph import materialize_kg
    from fastie_spark.linking import canonicalize_entities, link_entities
    from fastie_spark.operators.dedup import ngram_jaccard_pairs
    from fastie_spark.plans.checkpoint import Stage
    from fastie_spark.sources.normalize import docs_to_sentences

    sides = ("subj", "obj")

    def both(df, **cols):
        """Subject and object columns stacked: both(t, surface="text")
        selects subj_text and obj_text as ``surface``."""
        return df.select(*[F.col(f"subj_{c}").alias(a)
                           for a, c in cols.items()]).union(
            df.select(*[F.col(f"obj_{c}").alias(a)
                        for a, c in cols.items()]))

    def dedup(docs):
        with tracer.layer("operators.dedup"):
            keyed = docs.withColumn(
                "text", F.regexp_replace("content", "\n", " "))
            pairs = ngram_jaccard_pairs(
                keyed, n=3, min_jaccard_num=4, min_jaccard_den=5,
                max_df=KG_BUILD["max_df"])
            losers = pairs.select(F.col("b").alias("doc_id")).distinct()
            return keyed.join(losers, "doc_id", "left_anti").drop("text")

    def ingest(docs):
        with tracer.layer("sources"):
            return docs_to_sentences(docs)

    def extract(sents):
        with tracer.layer("extraction.pipeline"):
            return extract_triples(sents, ner, rel)

    def link(t):
        with tracer.layer("linking"):
            links = link_entities(both(t, surface="text"), catalog,
                                  max_distance=KG_BUILD["link_max_distance"])
            for s in sides:
                t = t.join(links.select(F.col("surface").alias(f"{s}_text"),
                                        F.col("entity").alias(f"{s}_link")),
                           f"{s}_text", "left")
            return t

    def canon(t):
        with tracer.layer("graph.cc"):
            for s in sides:
                t = t.withColumn(f"{s}_name",
                                 F.coalesce(f"{s}_link", f"{s}_text"))
            cmap = canonicalize_entities(
                both(t, name="name"),
                max_distance=KG_BUILD["canon_max_distance"],
                checkpoint_dir=os.path.join(root, "cc"))
            for s in sides:
                t = t.join(cmap.select(F.col("name").alias(f"{s}_name"),
                                       F.col("canon").alias(f"{s}_entity")),
                           f"{s}_name", "left")
            return t

    def kg(t):
        with tracer.layer("graph.kg"):
            emap = both(t, surface="text", entity="entity").distinct()
            nodes, edges = materialize_kg(
                t.select("doc_key", "subj_text", "subj_label", "pred",
                         "obj_text", "obj_label"), emap)
            nodes.write.mode("overwrite").parquet(
                os.path.join(root, "kg_nodes"))
            return edges

    fns = {"dedup": dedup, "ingest": ingest, "extract": extract,
           "link": link, "canon": canon, "kg": kg}
    # triples are written partitioned by (repo, lang) like the CLI's
    # checkpointed infer: the hot repo is one large partition
    return [Stage(name, fns[name],
                  partition_by=("repo", "lang") if name == "extract" else ())
            for name, _ in KG_STAGES]


class KgBuild:
    """The full KG build through ``PipelineRunner`` on a fresh root."""

    name = "kg_build"

    def __init__(self, spark, inputs, work, tracer, expected):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.tracer, self.expected = tracer, expected
        self.docs = expected["properties"]["docs"]

    def build(self, root: str) -> None:
        from fastie_spark.cli import _load_model
        from fastie_spark.plans.checkpoint import PipelineRunner
        docs = self.spark.read.parquet(os.path.join(self.inputs, "docs"))
        ner, rel = _load_model(os.path.join(self.inputs, "model"))
        catalog = self.spark.read.parquet(os.path.join(self.inputs,
                                                       "catalog"))
        self.tracer.group("plans.checkpoint")
        PipelineRunner(self.spark, root, run_id="perfbench").run(
            docs, kg_stages(ner, rel, catalog, root, self.tracer))

    def check(self, root: str) -> bool:
        exp = self.expected["expected"]
        nodes = digest(rows_of(read_table(os.path.join(root, "kg_nodes")),
                               ["entity", "label", "n_mentions"]))
        edges = digest(rows_of(read_table(os.path.join(root, "stages", "kg")),
                               ["src", "dst", "pred", "weight", "n_docs"]))
        return nodes == exp["nodes"] and edges == exp["edges"]

    def op(self, tag: str, layer: str, keep: bool = False):
        def run(k):
            root = os.path.join(self.work, f"{tag}{k}")
            with self.tracer.layer(layer):
                wall, cpu, end = clocked(self.build, root)
            rounds = glob.glob(os.path.join(root, "cc", "round_*"))
            res = {"wall": wall, "cpu": cpu, "ok": self.check(root),
                   "docs": self.docs, "bytes": du(root), "root": root,
                   "span": (end - wall, end),
                   "cc_rounds": max(len(rounds) - 1, 0)}
            if not keep:
                shutil.rmtree(root)
            return res
        return lambda k: attempt(run, k)

    def layer_counts(self, root: str) -> dict:
        """Rows and sizes of one traced build, read from its snapshots
        outside the timed region, and the split NER / relation jobs over
        its sentence snapshot."""
        from pyspark.sql import functions as F

        from fastie_spark.cli import _load_model
        from fastie_spark.linking import block_key
        man = read_table(os.path.join(root, "manifest")).to_pydict()
        n = dict(zip(man["stage"], man["n_rows"]))
        st = os.path.join(root, "stages")
        link = read_table(os.path.join(st, "link")).to_pydict()
        surf = {s: lk for side in ("subj", "obj")
                for s, lk in zip(link[f"{side}_text"], link[f"{side}_link"])}
        names = {lk if lk is not None else s for s, lk in surf.items()}
        sp = self.spark
        s_df = sp.createDataFrame([(s,) for s in surf], "surface string")
        cat = sp.read.parquet(os.path.join(self.inputs, "catalog")) \
            .select("alias").distinct()
        candidates = (s_df.withColumn("bk", block_key(F.col("surface")))
                      .join(cat.withColumn("bk", block_key(F.col("alias"))),
                            "bk").count())
        cc = os.path.join(root, "cc")
        rounds = len(glob.glob(os.path.join(cc, "round_*")))
        ner, rel = _load_model(os.path.join(self.inputs, "model"))
        split = split_layer_jobs(sp, self.tracer, self.work, ner, rel,
                                 os.path.join(st, "ingest"),
                                 ["extraction.ner", "extraction.relation"])
        return {
            "docs": self.docs, "stage_rows": n, "split": split,
            "surfaces": len(surf), "candidates": candidates,
            "linked": sum(lk is not None for lk in surf.values()),
            "cc_nodes": len(names),
            "cc_edges": parquet_rows(os.path.join(cc, "sym")) // 2,
            "cc_rounds": max(rounds - 1, 0),
            "cc_bytes": du(cc),
            "kg_nodes": parquet_rows(os.path.join(root, "kg_nodes")),
            "snapshot_bytes": du(st),
        }


# -- kg_update ------------------------------------------------------------------
class KgUpdate:
    """Fold doc-disjoint triple batches into a standing KG, one
    ``streaming.kg.merge_batch`` call (the foreachBatch body) each."""

    name = "kg_update"

    def __init__(self, spark, inputs, work, tracer, expected):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.tracer, self.expected = tracer, expected
        self.props = expected["properties"]
        self.root = os.path.join(work, "kg_update")
        self.batches = sorted(glob.glob(os.path.join(inputs, "batches",
                                                     "b*")))

    def batch_docs(self, path: str) -> int:
        return len(set(read_table(path).column("doc_key").to_pylist()))

    def fold(self, b: int, layer: str) -> dict:
        from fastie_spark.streaming.kg import merge_batch
        path = self.batches[b]
        docs = self.batch_docs(path)
        df = self.spark.read.parquet(path)
        with self.tracer.layer(layer):
            wall, cpu, _ = clocked(merge_batch, self.spark, df, b, self.root)
        snap = sum(du(os.path.join(self.root, f"{k}_{b:04d}"))
                   for k in ("nodes", "edges"))
        return {"wall": wall, "cpu": cpu, "ok": True, "docs": docs,
                "snap_bytes": snap}

    def check(self) -> bool:
        """finalize_kg over the last snapshot == materialize_kg over the
        union of every batch."""
        from fastie_spark.graph import finalize_kg, materialize_kg
        from fastie_spark.streaming.kg import latest_kg
        got = finalize_kg(*latest_kg(self.spark, self.root))
        want = materialize_kg(self.spark.read.parquet(*self.batches))

        def rows(df):
            return sorted(map(tuple, df.toPandas().itertuples(index=False)))
        return all(rows(g) == rows(w) for g, w in zip(got, want))


# -- driver -----------------------------------------------------------------------
def run_workload(args, spark, tracer, expected) -> dict:
    w = args.workload
    if w == "kg_update":
        wl = KgUpdate(spark, args.inputs, args.work, tracer, expected)
        n_warm = 1 + wl.props["warmup_batches"]
        with tracer.paused():
            ops = [attempt(wl.fold, b, "warmup") for b in range(n_warm)]
        t0 = time.perf_counter()
        timed = [attempt(wl.fold, b, "streaming.kg")
                 for b in range(n_warm, len(wl.batches))]
        region_s = time.perf_counter() - t0
        tracer.group("check")
        t0 = time.perf_counter()
        ok = attempt(lambda: {"ok": wl.check()})
        ok["check_s"] = time.perf_counter() - t0
        res = {"warm": ops, "timed": timed, "final_check": ok,
               "region_s": region_s, "stored_bytes": du(wl.root)}
        if args.trace:
            res["standing"] = {
                k: parquet_rows(os.path.join(
                    wl.root, f"{k}_{len(wl.batches) - 1:04d}"))
                for k in ("nodes", "edges")}
        return res

    if w == "kg_build":
        # one build per process, cold, as a user runs it; kept on disk
        # for the traced run's layer counts
        wl = KgBuild(spark, args.inputs, args.work, tracer, expected)
        timed = [wl.op("pass", "run", keep=bool(args.trace))(0)]
        res = {"warm": [], "timed": timed,
               "stored_bytes": timed[0].get("bytes", 0),
               "measured": {"cc_rounds": timed[0].get("cc_rounds")}}
        if args.trace and timed[0].get("ok"):
            tracer.group("counts")
            res["counts"] = wl.layer_counts(timed[0]["root"])
        return res

    wl = Infer(spark, args.inputs, args.work, tracer, expected)
    with tracer.paused():
        warm = wl.op("warm", "warmup")(0)
    timed = timed_loop(wl.op("pass", "extraction.pipeline"), args.seconds,
                       MIN_TIMED)
    res = {"warm": [warm], "timed": timed,
           "stored_bytes": warm.get("bytes", 0)}
    if args.trace:
        res["split"] = wl.layer_jobs()
    return res


def layer_metrics(args, res, tracer, expected) -> dict:
    """Traced run -> {"<layer>.<metric>": value}, the folded table and the
    wall account.

    Every term of the account is measured on its own, none is the rest
    of another: the run's wall by the benchmark's clock around the timed
    region, layer self times by the layer calls' spans (split jobs for
    the layers ``triples_from_docs`` fuses), the checkpoint overhead from
    the event log.  ``unattributed_s`` is what none of them covers."""
    import eventlog as ev
    logs = glob.glob(os.path.join(args.work, "eventlog", "*"))
    log = ev.EventLog(logs[0])
    w = args.workload
    spans: dict[str, list] = {}
    self_s: dict[str, float] = {}    # every layer with a self time
    parts: dict[str, float] = {}     # the account's disjoint terms
    out: dict[str, float] = {}
    timed = [x for x in res["timed"] if "wall" in x]
    if w == "kg_build":
        tp = timed[0]
        lo, hi = tp["span"]
        for stage, layer in KG_STAGES:
            ws = log.write_spans(os.path.join(tp["root"], "stages", stage)
                                 + ",")
            fn = [s for s in tracer.spans[layer] if lo <= s[0] <= hi]
            spans[layer] = fn + ws
            parts[layer] = self_s[layer] = ev.length(spans[layer])
        # the runner's own Spark work: executions outside every layer span
        inside = [s for v in spans.values() for s in v]
        ran = ev.clip(log.exec_spans(), lo, hi)
        parts["plans.checkpoint"] = ev.length(inside + ran) \
            - ev.length(inside)
        wall = tp["wall"]
    rows = ev.fold(log, w, spans)
    if w == "infer":
        # the fused passes' counters, per pass
        fused = rows.setdefault("extraction.pipeline",
                                {k: 0 for k in ev.FIELDS})
        for k in ev.FIELDS:
            if k != "task_skew":
                fused[k] /= len(timed)
        wall = statistics.median(x["wall"] for x in timed)
        split = res["split"]
        for layer, v in split["layers"].items():
            parts[layer] = self_s[layer] = v["self_s"]
        # the scan of the docs and the write of the output, paid once by
        # the fused pass: the first split layer's pass-through copy
        parts["io"] = split["layers"]["sources"]["copy_s"]
        out.update({"sources.rows_in": expected["properties"]["docs"],
                    "sources.rows_out": split["counts"]["sentences"],
                    "extraction.pipeline.rows_out":
                        expected["expected"]["triples"]["rows"]})
    elif w == "kg_build":
        c = res["counts"]
        n = c["stage_rows"]
        split = c["split"]
        # NER and relation typing run inside the extract stage's span
        for layer, v in split["layers"].items():
            self_s[layer] = v["self_s"]
            self_s["extraction.pipeline"] -= v["self_s"]
        ck = rows.get(ev.CHECKPOINT, {"jobs": 0})
        out.update({
            "operators.dedup.rows_in": c["docs"],
            "operators.dedup.rows_out": n["dedup"],
            "sources.rows_in": n["dedup"], "sources.rows_out": n["ingest"],
            "extraction.pipeline.rows_out": n["extract"],
            "linking.surfaces_in": c["surfaces"],
            "linking.candidates": c["candidates"],
            "linking.linked_out": c["linked"],
            "linking.link_ratio": c["linked"] / c["candidates"],
            "graph.cc.nodes": c["cc_nodes"], "graph.cc.edges": c["cc_edges"],
            "graph.cc.rounds": c["cc_rounds"],
            "graph.cc.snapshot_bytes": c["cc_bytes"],
            "graph.kg.rows_in": n["canon"],
            "graph.kg.nodes_out": c["kg_nodes"],
            "graph.kg.edges_out": n["kg"],
            "plans.checkpoint.overhead_s": parts["plans.checkpoint"],
            "plans.checkpoint.jobs_per_stage": ck["jobs"] / len(KG_STAGES),
            "plans.checkpoint.snapshot_bytes": c["snapshot_bytes"],
        })
    if w in ("infer", "kg_build"):
        sc = split["counts"]
        out.update({
            "extraction.ner.rows_in": sc["sentences"],
            "extraction.ner.mentions_out": sc["mentions"],
            "extraction.relation.pairs_in": sc["pairs"],
            "extraction.relation.relations_out": sc["relations"],
            "extraction.relation.hit_ratio": sc["relations"] / sc["pairs"],
        })
    if w == "kg_update":
        n = len(timed)
        walls = [x["wall"] for x in timed]
        r = rows.get("streaming.kg", {k: 0 for k in ev.FIELDS})
        parts["streaming.kg"] = self_s["streaming.kg"] = \
            ev.length(tracer.spans["streaming.kg"])
        wall = res["region_s"]
        out.update({
            "streaming.kg.self_s_p50": statistics.median(walls),
            "streaming.kg.jobs_per_batch": r["jobs"] / n,
            "streaming.kg.standing_node_rows": res["standing"]["nodes"],
            "streaming.kg.standing_edge_rows": res["standing"]["edges"],
            "streaming.kg.snapshot_bytes_per_batch":
                statistics.mean(x["snap_bytes"] for x in timed),
            "streaming.kg.shuffle_write_bytes":
                r["shuffle_write_bytes"] / n,
        })
    # the fold's counters, for every layer of the workload
    for layer, row in rows.items():
        for k in ("jobs", "task_s", "gc_s", "shuffle_write_bytes",
                  "spill_bytes", "task_skew", "python_bytes_sent",
                  "python_bytes_recv"):
            out.setdefault(f"{layer}.{k}", row[k])
    for layer, v in self_s.items():
        out[f"{layer}.self_s"] = v
    table = {layer: dict(rows.get(layer, {}), self_s=self_s.get(layer))
             for layer in set(rows) | set(self_s)}
    if ev.CHECKPOINT in parts:
        table.setdefault(ev.CHECKPOINT, {})["self_s"] = parts[ev.CHECKPOINT]
    account = {"wall_s": wall, "parts_s": parts,
               "unattributed_s": wall - sum(parts.values())}
    return {"metrics": out, "table": table, "account": account}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("infer", "kg_build", "kg_update"),
                   required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(args.inputs, "expected.json")) as f:
        expected = json.load(f)
    spark, marks = start_session(args.workload, args.work, bool(args.trace))
    tracer = Tracer(spark, args.workload, bool(args.trace))
    res = run_workload(args, spark, tracer, expected)
    marks["workload_done"] = time.time()
    res["marks"] = marks
    spark.stop()
    marks["stopped"] = time.time()
    if args.trace:
        res["layers"] = layer_metrics(args, res, tracer, expected)
    with open(args.out, "w") as f:
        json.dump(res, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
