"""Builder confs that ``get_spark`` pins."""

from __future__ import annotations


def test_console_progress_bar_is_off(spark):
    """Spark's console progress bar redraws on stderr with carriage
    returns and splices itself into other stderr lines (bench.py's
    per-row lines among them), so ``get_spark`` turns it off."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
