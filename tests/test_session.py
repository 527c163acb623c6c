"""The session's JVM ↔ Python transport: Unix domain sockets in a short
private directory that get_spark owns.

Spark names each socket ``<dir>/.<uuid4>.sock`` (the directory plus 43
bytes) and ``sun_path`` holds at most 107 bytes, so the socket directory
must stay short whatever TMPDIR or java.io.tmpdir is. The start-up and
restart checks run in fresh interpreters with their own JVM, never in the
pytest session.
"""

import os
import stat
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SUN_PATH_MAX = 107
SOCKET_NAME_BYTES = len("/.") + 36 + len(".sock")  # /.<uuid4>.sock


def test_session_uses_unix_domain_sockets_in_a_short_private_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    d = conf.get("spark.python.unix.domain.socket.dir")
    assert len(os.fsencode(d)) + SOCKET_NAME_BYTES <= SUN_PATH_MAX, d
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700


def _run(script: str, tmp: Path) -> list[str]:
    """Run `script` in a fresh interpreter whose TMPDIR and JVM
    java.io.tmpdir are `tmp`; return its stdout lines."""
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_DRIVER_MEM="1g",
               PYTHONPATH=str(REPO) + os.pathsep + os.environ.get("PYTHONPATH", ""),
               PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp}"
                                   " pyspark-shell")
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(script)], cwd=tmp,
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout.split("\n")


def _long_dir(tmp_path: Path, n: int = 150) -> Path:
    d = tmp_path / ("t" * max(1, n - len(os.fsencode(str(tmp_path))) - 1))
    d.mkdir()
    assert len(os.fsencode(str(d))) >= n
    return d


_START_SCRIPT = '''
    import pandas as pd
    from pyspark.sql import functions as F
    from shapely_spark.spark.session import get_spark

    spark = get_spark(app="uds-long-tmpdir", master="local[2]", shuffle_partitions=2)
    print("DIR", spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
    df = spark.range(100, numPartitions=2)

    def ident(batches):
        yield from batches

    @F.pandas_udf("boolean")
    def even(x: pd.Series) -> pd.Series:
        return x % 2 == 0

    ids = sorted(r.id for r in df.mapInPandas(ident, "id long").collect())
    print("IDENT", ids == list(range(100)))
    print("EVEN", df.where(even("id")).count())
    spark.stop()
'''


def test_session_starts_under_a_long_tmpdir_and_removes_its_socket_dir(tmp_path):
    """A 150-byte TMPDIR / java.io.tmpdir would put the default socket
    paths past sun_path; the session starts, both kinds of Python task
    give the right answers, and the socket directory is gone once the
    process that made it has stopped its session and exited."""
    lines = _run(_START_SCRIPT, _long_dir(tmp_path))
    sock_dir = next(ln.split(" ", 1)[1] for ln in lines if ln.startswith("DIR "))
    assert "IDENT True" in lines and "EVEN 50" in lines, lines
    assert len(os.fsencode(sock_dir)) + SOCKET_NAME_BYTES <= SUN_PATH_MAX
    assert not os.path.exists(sock_dir), sock_dir


_RESTART_SCRIPT = '''
    import pandas as pd
    from shapely_spark.geo.geom import regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.session import get_spark

    lefts = [regular_ngon(i % 5, i // 5, 0.6, 3 + i % 4) for i in range(25)]
    rights = [regular_ngon(1.5 * i, 1.5 * i, 0.9, 5) for i in range(4)]

    def stop_jvm():
        from pyspark import SparkContext

        gw = SparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None

    def pairs():
        spark = get_spark(app="uds-restart", master="local[2]", shuffle_partitions=2)
        left = spark.createDataFrame(pd.DataFrame(
            {"left_id": range(len(lefts)), "wkb": [to_wkb(g) for g in lefts]}),
            "left_id long, wkb binary")
        right = spark.createDataFrame(pd.DataFrame(
            {"region_id": range(len(rights)), "wkb": [to_wkb(g) for g in rights]}),
            "region_id long, wkb binary")
        got = sorted((r.left_id, r.region_id) for r in
                     spatial_join_geom(left, right, predicate="intersects").collect())
        spark.stop()
        return got

    first = pairs()
    second = pairs()  # a new context in the same JVM
    stop_jvm()
    third = pairs()  # a new context in a new JVM
    print("PAIRS", len(first), first == second == third)
'''


def test_spatial_join_geom_after_session_restart(tmp_path):
    """The refine UDF is made once per predicate and context: joins in a
    second session (same JVM) and a third (the JVM restarted) of one
    process return the first session's pairs, so no UDF bound to a
    stopped context or a dead JVM is reused."""
    lines = _run(_RESTART_SCRIPT, tmp_path)
    got = next(ln for ln in lines if ln.startswith("PAIRS "))
    n, same = got.split()[1:]
    assert int(n) > 0 and same == "True", got
