"""The infer workload measures the path users run: on a small seeded
corpus its output is hash-equal to ``python -m fastie_spark infer`` on
the same docs and model directory, and to the generator's gold."""

import os
import subprocess
import sys

import gen
import workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_infer_workload_equals_cli_infer(tmp_path):
    inputs = str(tmp_path / "inputs")
    blob = gen.make_infer(11, inputs, n_docs=300, n_surfaces=5000)
    cli_out = str(tmp_path / "cli")
    subprocess.run(
        [sys.executable, "-m", "fastie_spark", "infer",
         "--input", os.path.join(inputs, "docs"),
         "--model", os.path.join(inputs, "model"), "--output", cli_out],
        cwd=REPO, env=dict(os.environ, SPARK_GRAFT_CPUS="2"), check=True,
        timeout=600, capture_output=True)

    from fastie_spark import get_spark
    spark = get_spark(app_name="perfbench-paths", master="local[2]")
    wl = workloads.Infer(spark, inputs, str(tmp_path),
                         workloads.Tracer(spark, "infer", False), blob)
    bench_out = str(tmp_path / "bench")
    wl.write_triples(bench_out)

    cli = workloads.read_table(cli_out)
    bench = workloads.read_table(bench_out)
    assert cli.column_names == bench.column_names
    cols = cli.column_names
    assert gen.digest(workloads.rows_of(cli, cols)) == \
        gen.digest(workloads.rows_of(bench, cols))
    assert wl.check(bench_out)
    assert blob["expected"]["triples"]["rows"] > 0
