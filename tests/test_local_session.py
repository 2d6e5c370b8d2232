"""What ``session.get_spark`` sets up for the local sessions it starts:
Python workers that import this package from any cwd, and that do not
re-read unchanged zip archives on every task."""

import os
import subprocess
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_conf_lets_caller_win_and_merges_worker_path():
    """A caller's ``extra_conf`` overrides the local-session settings,
    except the worker ``PYTHONPATH``, which keeps the package first."""
    from tdengine_spark.session import _local_conf

    conf = _local_conf({})
    assert conf["spark.python.daemon.module"] == "tdengine_spark.pydaemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO
    conf = _local_conf({
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": "/opt/extra",
    })
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [REPO, "/opt/extra"]
    )


def test_worker_imports_package_from_any_cwd(tmp_path):
    """A driver whose cwd is not the repo, with the package on
    ``sys.path`` in-process only: a UDF that imports the package runs."""
    script = tmp_path / "probe.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "from tdengine_spark.session import get_spark\n"
        "\n"
        "spark = get_spark('cwd-probe', shuffle_partitions=2)\n"
        "\n"
        "@pandas_udf('long')\n"
        "def us(s: pd.Series) -> pd.Series:\n"
        "    from tdengine_spark.durations import parse_duration\n"
        "    return s.map(lambda n: parse_duration(f'{n}s').microseconds)\n"
        "\n"
        "rows = spark.range(1, 4).select(us('id').alias('v')).collect()\n"
        "print('VALUES=' + ','.join(str(r.v) for r in rows))\n"
    )
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_MASTER")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "VALUES=1000000,2000000,3000000" in out.stdout.splitlines(), (
        out.stderr[-3000:]
    )


def test_worker_rereads_zip_directory_only_when_archive_changes(spark):
    """Inside a worker, ``importlib.invalidate_caches()`` re-reads no
    unchanged archive (pyspark.zip included), re-reads one that was
    rewritten, and the rewritten module is importable."""

    # defined here so that it pickles by value, not by module name
    def probe(batches):
        import importlib
        import shutil
        import tempfile
        import zipfile
        import zipimport

        for _ in batches:
            pass
        d = tempfile.mkdtemp(prefix="tds_zipcache_")
        archive = os.path.join(d, "zc.zip")

        def write(body):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("tds_zc_mod.py", body)

        write("V = 1\n")
        sys.path.insert(0, archive)
        calls = []
        read = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return read(path)

        try:
            import tds_zc_mod

            first = tds_zc_mod.V
            zipimport._read_directory = counting
            importlib.invalidate_caches()
            unchanged = len(calls)
            write("V = 22222\n")
            importlib.invalidate_caches()
            del sys.modules["tds_zc_mod"]
            import tds_zc_mod

            rewritten = calls[unchanged:].count(archive)
            second = tds_zc_mod.V
        finally:
            zipimport._read_directory = read
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            sys.modules.pop("tds_zc_mod", None)
            shutil.rmtree(d, ignore_errors=True)
        yield pd.DataFrame({
            "first": [first], "second": [second],
            "unchanged_reads": [unchanged], "rewritten_reads": [rewritten],
        })

    r = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            probe,
            "first long, second long, unchanged_reads long, rewritten_reads long",
        )
        .collect()[0]
    )
    assert r.first == 1
    assert r.unchanged_reads == 0
    assert r.rewritten_reads >= 1
    assert r.second == 22222
