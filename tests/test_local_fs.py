"""The session's in-process ``file:`` filesystem (jvm/InProcessLocalFs.java).

Without libhadoop, Hadoop's stock local filesystem forks ``chmod`` per
created file and ``readlink`` per FileContext rename.  get_spark serves
``file:`` from java.nio subclasses instead.  These checks pin that the
session resolves to them through both Hadoop APIs, that they answer as
the stock RawLocalFileSystem does on the calls they replace, that
checksums are still written and verified, and that the jar is built once.
"""

from __future__ import annotations

import os
import shutil
import zipfile
from concurrent.futures import ThreadPoolExecutor

import pytest
from py4j.protocol import Py4JJavaError

from streaming_forex_data_pipeline_spark import session as S

_CLASSES = "forexflow.fs.InProcessLocalFs"


needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no javac: the session keeps Hadoop's stock local filesystem",
)


@pytest.fixture(scope="module")
def hadoop(spark):
    jvm = spark._jvm
    return jvm, jvm.org.apache.hadoop.fs, spark._jsparkSession.sessionState().newHadoopConf()


@needs_javac
def test_session_serves_file_scheme_in_process(spark, hadoop):
    jvm, fs, _ = hadoop
    for conf in (
        spark.sparkContext._jsc.hadoopConfiguration(),
        spark._jsparkSession.sessionState().newHadoopConf(),
    ):
        local = fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
        assert local.getClass().getName() == f"{_CLASSES}$Checked"
        assert local.getRaw().getClass().getName() == f"{_CLASSES}$Raw"
        ctx = fs.FileContext.getLocalFSFileContext(conf)
        assert ctx.getDefaultFileSystem().getClass().getName() == f"{_CLASSES}$Context"


def _link_status(raw, path):
    try:
        st = raw.getFileLinkStatus(path)
    except Py4JJavaError as exc:
        return exc.java_exception.getClass().getName()
    return (
        st.isSymlink(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.isFile(),
        st.getLen(),
        st.getPath().toString(),
        st.getPermission().toShort(),
        st.getOwner(),
    )


@needs_javac
def test_engine_fs_agrees_with_stock_raw_local_fs(hadoop, tmp_path):
    jvm, fs, conf = hadoop
    root = jvm.java.net.URI("file:///")
    engine = fs.FileSystem.get(root, conf).getRaw()
    stock = fs.RawLocalFileSystem()
    stock.initialize(root, conf)
    perm = fs.permission.FsPermission

    # modes after create and mkdirs under the session umask, and after
    # setPermission; 1777 carries the sticky bit, which goes to the
    # stock chmod
    p = str(tmp_path / "made")
    cases = [("file", "666"), ("file", "640"), ("dir", "777"), ("dir", "750")]
    cases += [("chmod", "700"), ("chmod", "1777")]
    for kind, mode in cases:
        modes = []
        for raw in (engine, stock):
            if kind == "file":
                raw.create(fs.Path(p), perm(mode), False, 4096, 1, 1 << 20, None).close()
            else:
                assert raw.mkdirs(fs.Path(p), perm("777"))
            if kind == "chmod":
                raw.setPermission(fs.Path(p), perm(mode))
            modes.append(os.stat(p).st_mode & 0o7777)
            raw.delete(fs.Path(p), True)
        assert modes[0] == modes[1], (kind, mode, [oct(m) for m in modes])
    assert modes[0] == 0o1777

    (tmp_path / "reg").write_bytes(b"x" * 7)
    os.symlink("reg", tmp_path / "link")
    os.symlink("nowhere", tmp_path / "dangling")
    seen = {}
    for name in ("reg", "link", "dangling", "missing"):
        for form in (str(tmp_path / name), f"file:{tmp_path / name}"):
            got = _link_status(engine, fs.Path(form))
            assert got == _link_status(stock, fs.Path(form)), form
            seen[name, form.startswith("file:")] = got
    assert seen["reg", False][:4] == (False, None, True, 7)
    assert seen["link", False][:2] == (True, f"file:{tmp_path / 'reg'}")
    assert seen["dangling", False][:2] == (True, f"file:{tmp_path / 'nowhere'}")
    assert seen["missing", False] == "java.io.FileNotFoundException"


def test_session_writes_and_verifies_checksums(spark, hadoop, tmp_path):
    out, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    spark.range(100).write.parquet(out)
    data = [f for f in os.listdir(out) if not f.startswith(".")]
    assert data and all(os.path.exists(os.path.join(out, f".{f}.crc")) for f in data)

    # FileContext: the streaming checkpoint's offset and commit logs
    q = (
        spark.readStream.schema("id long").parquet(out)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    for log in ("offsets", "commits"):
        assert os.path.exists(os.path.join(ckpt, log, ".0.crc")), log

    part = os.path.join(out, next(f for f in data if f.endswith(".parquet")))
    with open(part, "r+b") as fh:
        fh.seek(4)
        byte = fh.read(1)
        fh.seek(4)
        fh.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum error"):
        spark.read.parquet(out).collect()


@needs_javac
def test_local_fs_jar_is_built_once(tmp_path, monkeypatch):
    # two sessions building at once each compile privately, then swap
    # the same jar into place
    with ThreadPoolExecutor(2) as pool:
        jars = list(pool.map(lambda _: S.local_fs_jar(str(tmp_path)), range(2)))
    jar = jars[0]
    assert jars[1] == jar and os.listdir(tmp_path) == [os.path.basename(jar)]
    with zipfile.ZipFile(jar) as z:
        assert f"{_CLASSES.replace('.', '/')}$Raw.class" in z.namelist()

    def javac_started(*args, **kwargs):
        raise AssertionError(f"javac started: {args}")

    monkeypatch.setattr(S.subprocess, "run", javac_started)
    assert S.local_fs_jar(str(tmp_path)) == jar


def test_without_javac_the_session_keeps_the_stock_fs(tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(S.shutil, "which", lambda _: None)
    assert S.local_fs_jar(str(tmp_path)) is None
    monkeypatch.setattr(S, "local_fs_jar", lambda: None)
    with caplog.at_level("WARNING", logger=S.__name__):
        assert S._local_fs_confs.__wrapped__() == ()
    assert "no javac on the PATH" in caplog.text
