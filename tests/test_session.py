"""Session sizing comes from the host, and the package imports the way
executors ship it (the --py-files zip)."""

import os
import subprocess
import sys

import pytest

from ocr_gang_spark import session


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(ln.split()[1]) // 1024 for ln in f
                    if ln.startswith("MemTotal:"))


def test_default_driver_heap_is_at_most_half_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session.driver_memory()
    assert mem.endswith("m")
    assert int(mem[:-1]) <= _ram_mb() // 2

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_default_executor_memory_fits_beside_driver_heap(monkeypatch):
    """Processes mode: the driver heap plus one executor heap per slot
    stays within RAM; SPARK_GRAFT_EXEC_MEM_MB still overrides."""
    monkeypatch.delenv("SPARK_GRAFT_EXEC_MEM_MB", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    driver_mb = int(session.driver_memory()[:-1])
    assert driver_mb + 4 * session.executor_memory_mb(4) <= _ram_mb()

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.executor_memory_mb(2) == max(512, (session._ram_mb() - 2048) // 2)

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2 gigs")
    with pytest.raises(ValueError, match="not a JVM size"):
        session.executor_memory_mb(2)

    monkeypatch.setenv("SPARK_GRAFT_EXEC_MEM_MB", "1536")
    assert session.executor_memory_mb(4) == 1536


def test_textops_imports_from_package_zip(tmp_path):
    """Executors import the package from the zip, where fixture paths
    do not exist: importing the query modules must not read a fixture
    (quality_classifier_trained's oracle used to at import time)."""
    zip_path = session._package_zip()
    code = (
        "import sys; sys.path[0] = sys.argv[1]; "
        "import ocr_gang_spark.textops as t, ocr_gang_spark.contract; "
        "assert t.__file__.startswith(sys.argv[1]), t.__file__"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    try:
        proc = subprocess.run(
            [sys.executable, "-c", code, zip_path], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=300,
        )
    finally:
        os.unlink(zip_path)
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_zip_finder_drop_keeps_lazy_imports_working(tmp_path):
    """pipeline._drop_zip_finders runs at the start of every extraction
    UDF.  With the package imported from the --py-files zip, it must
    leave no zipimporter cached, and a module first imported after it
    (decode_media_blob's lazy kernels.png) must still load from the zip."""
    import numpy as np

    from ocr_gang_spark.kernels.png import encode_png

    page = np.random.default_rng(3).integers(0, 256, (5, 7, 3), dtype=np.uint8)
    blob = tmp_path / "page.png"
    blob.write_bytes(encode_png(page))
    np.save(tmp_path / "page.npy", page)
    zip_path = session._package_zip()
    code = (
        "import sys, zipimport; sys.path[0] = sys.argv[1]\n"
        "import numpy as np\n"
        "from ocr_gang_spark import pipeline\n"
        "assert pipeline.__file__.startswith(sys.argv[1]), pipeline.__file__\n"
        "assert 'ocr_gang_spark.kernels.png' not in sys.modules\n"
        "pipeline._drop_zip_finders()\n"
        "left = [p for p, f in sys.path_importer_cache.items()\n"
        "        if isinstance(f, zipimport.zipimporter)]\n"
        "assert not left, left\n"
        "got = pipeline.decode_media_blob(open('page.png', 'rb').read())\n"
        "assert np.array_equal(got, np.load('page.npy'))\n"
        "assert sys.modules['ocr_gang_spark.kernels.png'].__file__"
        ".startswith(sys.argv[1])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    try:
        proc = subprocess.run(
            [sys.executable, "-c", code, zip_path], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=300,
        )
    finally:
        os.unlink(zip_path)
    assert proc.returncode == 0, proc.stderr[-2000:]
