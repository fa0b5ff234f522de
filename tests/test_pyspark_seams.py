"""Pins on private PySpark internals the library relies on, so a PySpark
upgrade that removes or bypasses one fails here instead of silently
changing behaviour or cost."""

import os
import subprocess
import sys

from pyspark.sql import functions as F


def test_dataframe_debugging_cache_seam(spark, monkeypatch):
    """``hg64spark/__init__.py`` turns off PySpark's per-call call-site
    capture by seeding ``pyspark.errors.utils._enable_debugging_cache``.
    The attribute must exist, be seeded on import, and still be the value
    PySpark's API wrapper consults before capturing a call site."""
    from pyspark.errors import utils as peu

    import hg64spark  # noqa: F401  (seeds the cache on import)

    # asked of a fresh interpreter: hg64spark's seeding would itself create
    # the attribute in this one
    probe = subprocess.run(
        [sys.executable, "-c", "from pyspark.errors import utils as u; print(hasattr(u, '_enable_debugging_cache'))"],
        capture_output=True,
        text=True,
        check=True,
    )
    assert probe.stdout.strip() == "True", (
        "pyspark.errors.utils._enable_debugging_cache is gone: "
        "hg64spark._disable_dataframe_debugging no longer has any effect"
    )
    if os.environ.get("HG64SPARK_DF_DEBUG") != "1":
        assert peu._enable_debugging_cache is False

    captured = []

    def capture(depth):
        captured.append(depth)
        return ""

    monkeypatch.setattr(peu, "_capture_call_site", capture)
    df = spark.range(3)
    monkeypatch.setattr(peu, "_enable_debugging_cache", False)
    df.select(F.col("id") + 1)
    assert captured == [], "PySpark captured call sites with the cache seeded False"
    monkeypatch.setattr(peu, "_enable_debugging_cache", True)
    df.select(F.col("id") + 1)
    assert captured, (
        "PySpark no longer reads _enable_debugging_cache: seeding it no "
        "longer controls call-site capture"
    )
