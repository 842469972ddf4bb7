"""Spark-free unit tests for engine.cache: keying on input versions,
expected-output validation, failed-build cleanup, superseded retention,
entry/byte bounds and application scope."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine import cache, tmpdirs  # noqa: E402


class _Builds:
    """build() stand-in that counts its calls and returns the count."""

    def __init__(self) -> None:
        self.n = 0

    def __call__(self) -> int:
        self.n += 1
        return self.n


class _Session:
    def __init__(self, app: str) -> None:
        self.sparkContext = SimpleNamespace(applicationId=app)


@pytest.fixture
def fixtures(monkeypatch):
    """A fresh fixture store, plus the dirs its builds allocate."""
    fresh = cache.Cache(on_evict=cache._rmtree)
    monkeypatch.setattr(cache, "_FIXTURES", fresh)
    created: list[str] = []
    real = tmpdirs.scratch_dir

    def recording(prefix):
        d = real(prefix)
        created.append(d)
        return d

    monkeypatch.setattr(tmpdirs, "scratch_dir", recording)
    return SimpleNamespace(cache=fresh, created=created)


def test_hit_until_mtime_bump(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_text("a")
    c, build = cache.Cache(), _Builds()
    assert c.get([str(src)], build) == 1
    assert c.get([str(src)], build) == 1
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert c.get([str(src)], build) == 2


def test_size_change_and_extra_parts_key_separately(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_text("a")
    c, build = cache.Cache(), _Builds()
    st = os.stat(src)
    assert c.get([str(src)], build, "col_a") == 1
    assert c.get([str(src)], build, "col_b") == 2
    src.write_text("ab")  # same mtime, different size
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert c.get([str(src)], build, "col_a") == 3


def test_missing_input_is_a_version(tmp_path):
    c, build = cache.Cache(), _Builds()
    gone = str(tmp_path / "absent.parquet")
    assert c.get([gone], build) == 1
    assert c.get([gone], build) == 1
    open(gone, "w").close()
    assert c.get([gone], build) == 2


def test_missing_expected_output_rebuilds(tmp_path, fixtures):
    src = tmp_path / "t.parquet"
    src.write_text("a")

    def build(d):
        for name in ("batch0.parquet", "batch1.parquet"):
            open(os.path.join(d, name), "w").close()

    expect = ["batch0.parquet", "batch1.parquet"]
    d1 = cache.fixture("sg-test-", [str(src)], expect, build)
    assert cache.fixture("sg-test-", [str(src)], expect, build) == d1
    os.remove(os.path.join(d1, "batch1.parquet"))
    d2 = cache.fixture("sg-test-", [str(src)], expect, build)
    assert d2 != d1 and sorted(os.listdir(d2)) == expect
    assert fixtures.created == [d1, d2]


def test_failed_build_leaves_no_dir(tmp_path, fixtures):
    src = tmp_path / "t.parquet"
    src.write_text("a")

    def boom(d):
        open(os.path.join(d, "half-written"), "w").close()
        raise RuntimeError("simulated build failure")

    with pytest.raises(RuntimeError, match="simulated build failure"):
        cache.fixture("sg-test-", [str(src)], ["done"], boom)
    assert len(fixtures.created) == 1
    assert not os.path.exists(fixtures.created[0])
    assert len(fixtures.cache) == 0


def test_newest_superseded_dir_survives(tmp_path, fixtures):
    """A rebuild keeps the dir it replaced (a lazy plan may still read
    it) and removes the one before that."""
    src = tmp_path / "t.parquet"
    dirs = []
    for i in range(3):
        src.write_text("x" * (i + 1))
        dirs.append(cache.fixture("sg-test-", [str(src)], [], lambda d: None))
    assert len(set(dirs)) == 3
    assert not os.path.exists(dirs[0])
    assert os.path.isdir(dirs[1]) and os.path.isdir(dirs[2])


def test_entry_bound_evicts_oldest():
    evicted: list = []
    c = cache.Cache(2, on_evict=evicted.append)
    for tag in ("a", "b", "c"):
        c.get((), lambda: tag.upper(), tag)
    assert evicted == ["A"] and len(c) == 2
    build = _Builds()
    assert c.get((), build, "a") == 1  # evicted, so built again
    assert evicted == ["A", "B"]
    assert c.get((), build, "c") == "C"  # still held


def test_byte_bound_evicts_oldest_and_skips_oversized():
    c = cache.Cache(max_bytes=10, weigh=len)
    c.get((), lambda: b"x" * 6, "a")
    c.get((), lambda: b"y" * 6, "b")  # 12 > 10: "a" goes
    assert len(c) == 1
    assert c.get((), lambda: b"z" * 11, "big") == b"z" * 11  # never fits
    assert len(c) == 1
    assert c.get((), lambda: b"new", "a") == b"new"
    assert c.get((), lambda: b"other", "b") == b"y" * 6


def test_put_evicts_replaced_value():
    evicted: list = []
    c = cache.Cache(on_evict=evicted.append)
    spark = _Session("app-1")
    first, second = ["first"], ["second"]
    c.put(first, "tag", spark=spark)
    c.put(second, "tag", spark=spark)
    assert evicted == [first]
    c.put(second, "tag", spark=spark)  # re-putting the live value keeps it
    assert evicted == [first]


def test_another_app_id_misses_and_drops_without_evict():
    evicted: list = []
    c = cache.Cache(on_evict=evicted.append)
    build = _Builds()
    a, b = _Session("app-1"), _Session("app-2")
    assert c.get((), build, "k", spark=a) == 1
    assert c.get((), build, "k", spark=a) == 1
    assert c.get((), build, "k", spark=b) == 2
    assert evicted == []  # a stopped context's handles are just dropped
    assert c.get((), build, "k", spark=a) == 3


def test_app_id_read_once_per_session():
    reads: list = []

    class Ctx:
        @property
        def applicationId(self):
            reads.append(1)
            return "app-1"

    spark = _Session("unused")
    spark.sparkContext = Ctx()
    for _ in range(3):
        assert cache.app_id(spark) == "app-1"
    assert len(reads) == 1


def test_module_imports_no_pyspark():
    """Python workers import engine.cache for the broadcast-side memo."""
    import subprocess

    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import engine.cache\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported'\n"
    ) % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], check=True)
