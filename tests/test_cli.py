"""CLI surface: describe/compile in-process, runpipe via subprocess
(runpipe owns a SparkSession and stops it — keep it out of the shared
test JVM)."""

import json
import os
import subprocess
import sys

from riko_spark.cli import main

PIPE = {
    "modules": [
        {"id": "src", "type": "filter",
         "conf": {"rule": [{"field": "x", "op": "atleast", "value": 3}]}},
        {"id": "trunc", "type": "truncate", "conf": {"count": 2}},
        {"id": "out", "type": "output"},
    ],
}


def test_cli_describe_and_compile(tmp_path, capsys):
    p = tmp_path / "pipe.json"
    p.write_text(json.dumps(PIPE))
    assert main(["describe", str(p)]) == 0
    out = capsys.readouterr().out
    assert "src\tfilter" in out and "trunc\ttruncate" in out
    assert main(["compile", str(p), "--name", "demo"]) == 0
    src = capsys.readouterr().out
    assert "def pipe_demo(" in src and "execute_module" in src


def test_cli_runpipe_subprocess(tmp_path, spark):
    pipe = tmp_path / "pipe.json"
    pipe.write_text(json.dumps(PIPE))
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [{"x": i, "event_seq": i} for i in range(10)]
    ).write.parquet(src_dir)
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    r = subprocess.run(
        [sys.executable, "-m", "riko_spark.cli", "runpipe", str(pipe),
         "--source", f"src={src_dir}", "--out", out_dir,
         "--order-by", "event_seq", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo", env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    back = spark.read.parquet(out_dir)
    assert sorted(row["x"] for row in back.collect()) == [3, 4]


def test_console_script_entry_points():
    """Packaging surface: the pyproject [project.scripts] targets exist
    and the runpipe/compile wrappers delegate to main() (proven in a
    fresh venv manually; here we pin the importable contract)."""
    import tomllib

    from riko_spark import cli

    with open("/root/repo/pyproject.toml", "rb") as f:
        scripts = tomllib.load(f)["project"]["scripts"]
    assert scripts == {
        "riko-spark": "riko_spark.cli:main",
        "runpipe": "riko_spark.cli:runpipe_main",
        "compile-pipe": "riko_spark.cli:compile_main",
    }
    for target in scripts.values():
        mod, fn = target.split(":")
        assert callable(getattr(cli, fn))


def test_compile_pipe_wrapper(tmp_path, capsys):
    import json as _json

    from riko_spark.cli import compile_main

    p = tmp_path / "pipe.json"
    p.write_text(_json.dumps(PIPE))
    assert compile_main([str(p), "--name", "pkg"]) == 0
    assert "def pipe_pkg(" in capsys.readouterr().out


def test_cli_runpipe_stream_mode(tmp_path, spark):
    """--stream runs the same pipe def as Structured Streaming: parquet
    file stream in, append file sink + checkpoint out, availableNow
    drain — result rows equal the batch run's.  The pipe uses
    stream-legal modules (filter/strtransform); global-order modules
    (sort/truncate/tail) are batch concepts."""
    stream_pipe = {
        "modules": [
            {"id": "src", "type": "filter",
             "conf": {"rule": [{"field": "x", "op": "atleast", "value": 3}]}},
            {"id": "out", "type": "output"},
        ],
    }
    pipe = tmp_path / "pipe.json"
    pipe.write_text(json.dumps(stream_pipe))
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [{"x": i, "event_seq": i} for i in range(10)]
    ).write.parquet(src_dir)
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    r = subprocess.run(
        [sys.executable, "-m", "riko_spark.cli", "runpipe", str(pipe),
         "--stream", "--source", f"src={src_dir}", "--out", out_dir,
         "--checkpoint", str(tmp_path / "ckpt"),
         "--order-by", "event_seq", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo", env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    back = spark.read.parquet(out_dir)
    assert sorted(row["x"] for row in back.collect()) == list(range(3, 10))


def test_cli_crawl_subprocess(tmp_path, spark):
    # the round-7 capstone under the spark-submit CLI shape: streaming
    # crawl drain, then the batch twin, over the same archives
    from tests.test_corpus_stream import CONF, T1, T2, T4, _write_fixture

    src = tmp_path / "warcs"
    src.mkdir()
    _write_fixture(src)
    conf = json.dumps({k: v for k, v in CONF.items()
                       if k != "blocked_domains"})
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    r = subprocess.run(
        [sys.executable, "-m", "riko_spark.cli", "crawl", str(src),
         "--out", str(tmp_path / "sink"),
         "--checkpoint", str(tmp_path / "ckpt"),
         "--blocked-domains", "spam.example", "--conf", conf,
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0, r.stderr[-2000:]
    assert "upserted" in r.stdout and "(3 rows)" in r.stdout
    got = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "sink" / "gen_*")).select("text").collect()
    assert sorted(x["text"] for x in got) == sorted([T1, T2, T4])

    rb = subprocess.run(
        [sys.executable, "-m", "riko_spark.cli", "crawl", str(src),
         "--out", str(tmp_path / "batch_out"), "--batch",
         "--blocked-domains", "spam.example", "--conf", conf,
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert rb.returncode == 0, rb.stderr[-2000:]
    batch = spark.read.parquet(str(tmp_path / "batch_out"))
    assert sorted(x["text"] for x in batch.select("text").collect()) == \
        sorted([T1, T2, T4])


def test_cli_crawl_stream_requires_checkpoint(tmp_path):
    import pytest

    with pytest.raises(SystemExit, match="checkpoint"):
        main(["crawl", str(tmp_path), "--out", str(tmp_path / "o")])


def test_make_dist_zip_serves_run_pipeline(tmp_path):
    """The spark-submit path without a JVM: ``scripts/make_dist.sh``
    zips every engine module, and ``scripts/run_pipeline.py`` imports
    the CLI from that zip alone (run from a copy of ``scripts/`` beside
    a ``riko_spark`` symlink, so ``dist/`` lands in tmp_path)."""
    import shutil
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(os.path.join(repo, "scripts"), tmp_path / "scripts")
    os.symlink(os.path.join(repo, "riko_spark"), tmp_path / "riko_spark")
    r = subprocess.run(["bash", str(tmp_path / "scripts" / "make_dist.sh")],
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr[-2000:]
    zpath = tmp_path / "dist" / "riko_spark.zip"
    with zipfile.ZipFile(zpath) as z:
        names = set(z.namelist())
    want = {
        os.path.relpath(os.path.join(root, f), repo)
        for root, _, files in os.walk(os.path.join(repo, "riko_spark"))
        for f in files if f.endswith(".py")
    }
    assert want and want <= names

    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    r = subprocess.run(
        [sys.executable, str(tmp_path / "scripts" / "run_pipeline.py")],
        capture_output=True, text=True, timeout=60, cwd=elsewhere,
        env=dict(os.environ, PYTHONPATH=str(zpath)))
    assert r.returncode == 0, r.stderr[-2000:]
    assert "usage: riko_spark" in r.stdout
