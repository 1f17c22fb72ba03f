"""S10 language-marker exchange rename + F1 filename field extraction + F12
basename/dirname, pinned against the reference's split-index formulas."""

import itertools
import random

import pandas as pd
from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark.functions.naming import (
    basename,
    dirname,
    filename_day,
    filename_submission,
    strip_language_marker,
    with_language_marker,
)
from daily_journal_dataflow_qc_spark.functions.redaction import (
    redacted_line,
    violated_line,
)
from daily_journal_dataflow_qc_spark.operators.transcript import redact_projection
from daily_journal_dataflow_qc_spark.oracle.pandas_oracle import (
    _normalize,
    _redact_valid_line,
    _redaction_violated,
)

LOCAL = "conv7_audioJournal_day0042_submission2.wav"
MARKED = "conv7_audioJournal_day0042_ENGLISH_submission2.wav"


def _ref_mark(filename: str, language: str) -> str:
    # journal_transcribeme_sftp_push.py:177, verbatim
    return (
        filename.split("submission")[0]
        + language
        + "_submission"
        + filename.split("submission")[1]
    )


def test_language_marker_round_trip(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {"name": [LOCAL], "language": ["ENGLISH"]}
        )
    )
    out = df.select(
        with_language_marker(F.col("name"), F.col("language")).alias("marked")
    ).head()
    assert out["marked"] == MARKED == _ref_mark(LOCAL, "ENGLISH")

    back = df.select(
        strip_language_marker(F.lit(MARKED), F.col("language")).alias("local")
    ).head()
    assert back["local"] == LOCAL

    # non-English marker + a name without the marker passes through
    df2 = spark.createDataFrame(
        pd.DataFrame({"name": [LOCAL], "language": ["KOREAN"]})
    )
    r = df2.select(
        with_language_marker(F.col("name"), F.col("language")).alias("m"),
        strip_language_marker(F.col("name"), F.col("language")).alias("s"),
    ).head()
    assert r["m"] == _ref_mark(LOCAL, "KOREAN")
    assert r["s"] == LOCAL  # no marker present -> unchanged


def test_filename_field_extraction(spark):
    # reference formulas (audio_diary_qc.py:93-94):
    # int(split("_day")[-1].split("_")[0]), int(split("_submission")[-1].split(".wav")[0])
    names = [LOCAL, "c_audioJournal_day9999_submission1.wav"]
    df = spark.createDataFrame(pd.DataFrame({"name": names}))
    got = df.select(
        filename_day(F.col("name")).alias("day"),
        filename_submission(F.col("name")).alias("sub"),
    ).toPandas()
    want_day = [int(n.split("_day")[-1].split("_")[0]) for n in names]
    want_sub = [int(n.split("_submission")[-1].split(".wav")[0]) for n in names]
    assert got["day"].tolist() == want_day == [42, 9999]
    assert got["sub"].tolist() == want_sub == [2, 1]


def test_basename_dirname(spark):
    paths = ["/a/b/c.wav", "c.wav", "/x/y/"]
    df = spark.createDataFrame(pd.DataFrame({"p": paths}))
    got = df.select(
        basename(F.col("p")).alias("b"), dirname(F.col("p")).alias("d")
    ).toPandas()
    assert got["b"].tolist() == [p.split("/")[-1] for p in paths]
    assert got["d"].tolist() == ["/a/b", "", "/x/y"]


def test_redact_projection_matches_oracle_spec(spark):
    """``redact_projection``'s (text, violated) must agree with the pandas
    oracle's redaction spec on the normalized line: every string of up to
    7 characters over a brace-heavy alphabet, seeded random strings with
    tabs, CR and non-ASCII, NULL, the named quirks (empty tokens, the lax
    final group, a trailing '{') and lines of up to 10^5 brace groups."""
    rng = random.Random(20261017)
    samples = [
        "".join(p) for n in range(8) for p in itertools.product("{}a ", repeat=n)
    ] + [
        "".join(rng.choices("{}ab é\t\r", k=rng.randint(1, 40)))
        for _ in range(4000)
    ] + [None, "{a  b}", "x {a}b}", "a {x", "{}", "hello {john smith} bye"] + [
        # lines of thousands of brace groups: a regex that recurses once
        # per group overflows the executor thread's stack on these
        "a " + " ".join(["{x y} b"] * n) + tail
        for n, tail in ((3_000, ""), (100_000, ""), (100_000, " {"))
    ]

    def spec(line):
        if line is None:
            return None, False
        violated = _redaction_violated(line)
        return (None if violated else _redact_valid_line(line)), violated

    # the projection normalizes first; the bare column expressions (as the
    # `redaction` driver query uses them) must hold on the raw line too
    raw = F.col("text")
    df = spark.createDataFrame(list(enumerate(samples)), "i int, text string")
    got = [
        ((r["text"], r["violated"]), (r["raw_text"], r["raw_violated"]))
        for r in redact_projection(
            df.withColumns(
                {"raw_text": redacted_line(raw), "raw_violated": violated_line(raw)}
            )
        )
        .orderBy("i")
        .collect()
    ]
    want = [(spec(s and _normalize(s)), spec(s)) for s in samples]
    bad = [(s, w, g) for s, w, g in zip(samples, want, got) if w != g]
    assert len(got) == len(samples) > 25000
    assert not bad, f"{len(bad)} disagreements, first: {bad[:5]}"


def test_language_marker_malformed_name_passthrough(spark):
    """A name with NO 'submission' segment passes through UNCHANGED — and
    the pandas oracle's _tool_key agrees (it used to IndexError while the
    engine appended a dangling marker; both now treat the malformed name as
    a no-op so they can never silently diverge)."""
    from daily_journal_dataflow_qc_spark.oracle.pandas_oracle import _tool_key

    df = spark.createDataFrame(
        [("nomarker.wav", "ENGLISH"), (LOCAL, "ENGLISH")], "name string, lang string"
    )
    got = {
        r["name"]: r["m"]
        for r in df.select(
            "name", with_language_marker(F.col("name"), F.col("lang")).alias("m")
        ).collect()
    }
    assert got["nomarker.wav"] == "nomarker.wav"
    assert got[LOCAL] == MARKED
    assert _tool_key("nomarker.wav", "ENGLISH") == "nomarker.wav"
    assert _tool_key(LOCAL, "ENGLISH") == MARKED
