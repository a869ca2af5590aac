"""The engine's session: what ``get_spark`` fixes for every builder."""

from __future__ import annotations


def test_no_python_call_site_capture(spark, monkeypatch):
    """``get_spark`` turns off PySpark's per-call DataFrame debugging: a
    ``functions``/``Column`` call then makes no ``PySparkCurrentOrigin``
    round trip and walks no Python stack."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors import utils
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") \
        == "false"
    assert utils.is_debugging_enabled() is False
    sent = []
    real = ClientServerConnection.send_command

    def spy(self, command, *a, **kw):
        sent.append(command)
        return real(self, command, *a, **kw)

    def no_capture(*a, **kw):
        raise AssertionError("call site captured")

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    monkeypatch.setattr(utils, "_capture_call_site", no_capture)
    (F.col("x") + F.lit(1)).alias("y")
    assert sent
    assert not any("PySparkCurrentOrigin" in c for c in sent)
