"""The local session's filesystem: ``jvm/NioLocalFileSystem.java`` serves
``file:`` paths and sets the modes Hadoop's own local filesystem sets,
without running a ``chmod`` process per created file and directory."""

import os
import shutil
import stat

import pytest

from online_centrality_spark import session


def _fs(spark, path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file://" + str(path)), conf
    )


def _mode(path):
    return stat.S_IMODE(os.stat(path).st_mode)


def test_local_session_serves_file_paths_in_process(spark, tmp_path):
    fs = _fs(spark, tmp_path)
    if fs.getClass().getName() != session._LOCAL_FS:
        pytest.skip("no javac: the session runs Hadoop's own local filesystem")
    out = tmp_path / "out"
    spark.range(10).write.parquet(str(out))
    assert sorted(r.id for r in spark.read.parquet(str(out)).collect()) == list(range(10))
    names = os.listdir(out)
    assert "_SUCCESS" in names and "._SUCCESS.crc" in names
    # Hadoop's default umask 022 over 0666 files and 0777 directories
    assert _mode(out) == 0o755
    assert {_mode(out / n) for n in names} == {0o644}


@pytest.mark.parametrize("mode", [0o750, 0o604, 0o000, 0o777], ids=oct)
def test_local_fs_set_permission_sets_every_rwx_bit(spark, tmp_path, mode):
    fs = _fs(spark, tmp_path)
    if fs.getClass().getName() != session._LOCAL_FS:
        pytest.skip("no javac: the session runs Hadoop's own local filesystem")
    f = tmp_path / "f"
    f.write_bytes(b"x")
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission("%03o" % mode)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path("file://" + str(f)), perm)
    assert _mode(f) == mode


def test_local_fs_conf_builds_once_and_falls_back_without_javac(tmp_path, monkeypatch):
    jvm_dir = tmp_path / "jvm"
    jvm_dir.mkdir()
    shutil.copy(os.path.join(session._JVM_DIR, "NioLocalFileSystem.java"), jvm_dir)
    monkeypatch.setattr(session, "_JVM_DIR", str(jvm_dir))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    assert session._local_fs_conf() == {}
    assert not (jvm_dir / "classes").exists() or not os.listdir(jvm_dir / "classes")
    monkeypatch.delenv("JAVA_HOME")
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    conf = session._local_fs_conf()
    assert conf["spark.hadoop.fs.file.impl"] == session._LOCAL_FS
    classes = conf["spark.driver.extraClassPath"]
    assert os.path.isfile(
        os.path.join(classes, "online_centrality_spark", "jvm", "NioLocalFileSystem.class")
    )
    # a second call reuses the build: one directory, no leftover temp dirs
    assert session._local_fs_conf() == conf
    assert os.listdir(jvm_dir / "classes") == [os.path.basename(classes)]
