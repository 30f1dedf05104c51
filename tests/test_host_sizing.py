"""Sessions and bench levels are sized from the host they run on, and
sessions pick their Python worker daemon by how the package is loaded.

Spark-free: the session builder is stubbed, so no JVM starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from types import SimpleNamespace

import pytest

import bench
import bench_extra
from rsyslog_spark import session


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}
        self.master_url = None

    def appName(self, _name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _lvl: None)
        )


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("MemTotal missing")


@pytest.fixture
def builder(monkeypatch):
    b = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=b))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    return b


def test_default_session_is_sized_from_the_host(builder):
    session.get_spark("t")
    nproc = len(os.sched_getaffinity(0))
    assert builder.master_url == f"local[{nproc}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(max(8, nproc))
    mem = builder.conf["spark.driver.memory"]
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(_mem_total_mb(), 24 * 1024)


def test_local_star_and_overrides(builder, monkeypatch):
    session.get_spark("t", master="local[*]")
    nproc = len(os.sched_getaffinity(0))
    assert builder.conf["spark.sql.shuffle.partitions"] == str(max(8, nproc))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    session.get_spark("t")
    assert builder.master_url == "local[3]"
    assert builder.conf["spark.driver.memory"] == "2g"


def test_daemon_is_set_only_for_a_directory_import(builder, tmp_path):
    """From a plain directory, workers start ``rsyslog_spark._pydaemon``
    with that directory on their path. From ``--py-files
    rsyslog_spark.zip``, an archive, they keep Spark's own daemon."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    session.get_spark("t")
    assert builder.conf["spark.python.daemon.module"] == "rsyslog_spark._pydaemon"
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == repo
    session.get_spark("t", extra_conf={"spark.executorEnv.PYTHONPATH": "/x"})
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == f"/x{os.pathsep}{repo}"

    archive = tmp_path / "rsyslog_spark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(repo, "rsyslog_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    out = subprocess.run(
        [sys.executable, "-c",
         "import json; from rsyslog_spark import session as s; "
         "print(json.dumps([s.__file__, s._python_daemon_conf(None)]))"],
        cwd=tmp_path, check=True, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": str(archive)},
    ).stdout
    loaded_from, conf = json.loads(out.splitlines()[-1])
    assert loaded_from.startswith(str(archive))
    assert conf == {}


@pytest.mark.parametrize("nproc", [1, 2, 4, 6, 32])
def test_scaling_pair_fits_the_host(nproc):
    pair = bench.scaling_pair(nproc)
    if nproc < 4:
        assert pair is None
    else:
        lo, hi = pair
        assert 1 <= lo and hi == 4 * lo <= nproc
        assert lo == nproc // 4


def test_level_above_nproc_refused_before_any_process(monkeypatch):
    def no_process(*_a, **_k):
        raise AssertionError("subprocess.run reached")

    monkeypatch.setattr(subprocess, "run", no_process)
    monkeypatch.setattr(bench, "host_nproc", lambda: 4)
    with pytest.raises(ValueError, match="local\\[8\\]"):
        bench._throughput_subprocess(8, "unused")


def test_bench_extra_defaults_are_the_bench_suite(monkeypatch, tmp_path):
    names = list(bench.suite(None, None))
    assert len(names) == 14
    ran: list[str] = []

    class FakeDF:
        def __init__(self, name):
            self.name = name
            self.write = self

        def format(self, _fmt):
            return self

        def mode(self, _mode):
            return self

        def save(self):
            ran.append(self.name)

    real_suite = bench.suite
    monkeypatch.setattr(bench, "suite", lambda spark, lt: {
        n: (lambda n=n: FakeDF(n)) for n in real_suite(spark, lt)
    })
    monkeypatch.setattr(bench, "_materialize_tokens", lambda _s, _m: "t")
    fake = SimpleNamespace(
        read=SimpleNamespace(parquet=lambda _p: None),
        sparkContext=SimpleNamespace(setJobDescription=lambda _d: None),
        stop=lambda: None,
    )
    monkeypatch.setattr(bench_extra, "_spark", lambda: fake)
    monkeypatch.setattr(bench_extra, "_plan_text", lambda df: df.name)

    bench_extra.cmd_plans(str(tmp_path), "x", [])
    assert sorted(os.listdir(tmp_path)) == sorted(f"{n}_x.txt" for n in names)
    bench_extra.cmd_time([])
    assert list(dict.fromkeys(ran)) == names


def test_tokens_cache_keys_on_sf_path_and_corpus_source(monkeypatch, tmp_path):
    from rsyslog_spark import corpus

    paths = []
    for sf in (tmp_path / "a" / "sf0.01", tmp_path / "b" / "sf0.01"):
        monkeypatch.setattr(bench, "SF_DIR", str(sf))
        paths.append(bench._tokens_cache(1))
    assert paths[0] != paths[1]
    assert bench._tokens_cache(1) == paths[1]

    edited = tmp_path / "corpus.py"
    edited.write_bytes(open(corpus.__file__, "rb").read() + b"\n# edited\n")
    monkeypatch.setattr(corpus, "__file__", str(edited))
    assert bench._tokens_cache(1) != paths[1]


def test_materialize_tokens_prunes_stale_caches(monkeypatch, tmp_path):
    from rsyslog_spark import corpus

    class FakeDF:
        def __getattr__(self, _name):
            return lambda *_a: self

        @property
        def write(self):
            return self

        def parquet(self, path):
            os.makedirs(path)

    monkeypatch.setattr(bench, "TOKENS_ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.01")
    monkeypatch.setattr(corpus, "logtokens", lambda _s, _sf: FakeDF())
    stale = ["sparkgraft_tokens_sf0.01_x1",
             "sparkgraft_tokens_sf0.01_x1_aaaaaaaaaaaa",
             "sparkgraft_tokens_sf0.01_x1_aaaaaaaaaaaa.tmp"]
    kept = ["sparkgraft_tokens_sf0.01_x1_bbbbbbbbbbbb",  # newest other
            "sparkgraft_tokens_sf0.01_x10_cccccccccccc",
            "sparkgraft_tokens_sf0.1_x1_dddddddddddd"]
    for age, name in enumerate(reversed(stale + kept)):
        (tmp_path / name).mkdir()
        os.utime(tmp_path / name, (1e9 - age, 1e9 - age))
    os.utime(tmp_path / kept[0], (2e9, 2e9))

    cache = bench._materialize_tokens(None, 1)
    assert sorted(os.listdir(tmp_path)) == sorted(
        kept + [os.path.basename(cache)]
    )
    assert bench._materialize_tokens(None, 1) == cache  # reused as is


def test_plan_text_strips_session_ids():
    def stub_df(text):
        utils = SimpleNamespace(explainString=lambda _qe, _mode: text)
        return SimpleNamespace(
            _sc=SimpleNamespace(_jvm=SimpleNamespace(PythonSQLUtils=utils)),
            _jdf=SimpleNamespace(queryExecution=lambda: None),
        )

    cold = "(3) Scan [id#12] MapPartitionsRDD[44] at x, plan_id=7"
    warm = "(3) Scan [id#31] MapPartitionsRDD[32] at x, plan_id=2"
    assert bench_extra._plan_text(stub_df(cold)) == bench_extra._plan_text(
        stub_df(warm)
    ) == "(3) Scan [id] MapPartitionsRDD at x, "
    # lambda variables are numbered session-wide too; a column that only
    # ends in a digit run keeps it
    cold = "transform(a#3, lambdafunction(x_12#40 + y_13, x_12#40)) AS max_1"
    warm = "transform(a#9, lambdafunction(x_2#17 + y_3, x_2#17)) AS max_1"
    assert bench_extra._plan_text(stub_df(cold)) == bench_extra._plan_text(
        stub_df(warm)
    ) == "transform(a, lambdafunction(x_ + y_, x_)) AS max_1"
