"""Session guards: the two Spark 4 defaults ``get_session`` turns off
stay off, and turning them off changes no result the package relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
ICU = "spark.sql.icu.caseMappings.enabled"

# Latin-1, ß/ẞ, Greek final sigma, Turkish İ/ı, Cyrillic, ligatures,
# DŽ digraphs, Deseret, Adlam, CJK
CASE_SAMPLES = [
    "Ærøskøbing Café ÀÉÎÕÜ", "straße", "GROẞ ẞ", "ΟΔΥΣΣΕΥΣ", "σοφός Σ",
    "İstanbul", "ıIiİ", "Привет МИР ёЁ", "ﬁ ﬂ ﬀ ﬃ", "Ǆ ǅ ǆ",
    "𐐀𐐁 𐐨𐐩", "𞤀𞤁 𞤢𞤣", "漢字 カナ ㄅ",
]


def test_session_turns_off_call_site_capture_and_icu_case_mapping(spark):
    from pyspark.errors.utils import is_debugging_enabled
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") \
        == "false"
    assert spark.conf.get(ICU) == "false"
    F.col("a") + 1  # the first Column call fixes PySpark's cached flag
    assert is_debugging_enabled() is False


# x33 at sf0.001, warm second build: 914 py4j round trips in this
# session (4 shuffle partitions), py4j's own object-release commands
# not counted; with call-site capture on it was ~3,150-3,600 in all.
X33_BUILD_ROUND_TRIPS = 914


def test_x33_build_py4j_round_trips_bounded(spark, monkeypatch):
    import gc

    from py4j import protocol as proto
    from py4j.clientserver import ClientServerConnection

    from bi_etl_and_integration_spark.queries import QUERIES
    build = QUERIES["x33_hybrid_rrf"]
    build(spark, SF)  # catalog footers, first-call imports
    # py4j's object releases come from whatever garbage earlier tests
    # left: collect it now and count none of them
    gc.collect()
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(release):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build(spark, SF)
    monkeypatch.undo()
    assert 0 < sent[0] <= X33_BUILD_ROUND_TRIPS * 1.25, sent[0]


def _cased(spark, icu: bool, fn) -> list:
    spark.conf.set(ICU, str(icu).lower())
    try:
        df = spark.createDataFrame([(s,) for s in CASE_SAMPLES], "s string")
        return [r[0] for r in df.select(fn("s")).collect()]
    finally:
        spark.conf.set(ICU, "false")


@pytest.mark.parametrize("fn", [F.lower, F.upper], ids=["lower", "upper"])
def test_case_mapping_parity_without_icu(spark, fn):
    """lower/upper agree with and without ICU case mapping on non-ASCII
    input.  initcap is left out: it differs on ﬁ, ẞ, İ and supplementary
    letters, and no operator calls it."""
    assert _cased(spark, False, fn) == _cased(spark, True, fn)


def test_icu_case_mapping_conf_is_live(spark):
    """The parity above means something only while the conf still
    switches the code path: ICU title-cases the ﬁ ligature to Fi, the
    JDK path leaves it as is."""
    assert _cased(spark, False, F.initcap) != _cased(spark, True, F.initcap)
