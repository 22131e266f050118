"""The band rule of tools/broadcast_audit.py: every call of the
bucket-pair emitter must cap (a non-None max_bucket_size=) or carry a
'# band-ok: <bound>' marker."""

from __future__ import annotations

from tools.broadcast_audit import audit_lines


def _band_findings(src: str) -> list[str]:
    findings, _ = audit_lines("example.py", src.splitlines())
    return [f for f in findings if "candidate-pair generator" in f]


def test_uncapped_unmarked_emitter_call_is_a_finding():
    got = _band_findings('pairs = bucket_pairs(ex, ("h",), ("n",))\n')
    assert len(got) == 1 and got[0].startswith("example.py:1:"), got
    # a cap or a marker each clear it
    assert not _band_findings(
        'pairs = bucket_pairs(\n    ex, ("h",), max_bucket_size=32\n)\n'
    )
    assert not _band_findings(
        "# band-ok: 2^60 md5 keyspace\n"
        'pairs = bucket_pairs(ex, ("h",), max_bucket_size=None)\n'
    )


def test_package_and_sql_texts_have_no_findings():
    """The full audit over fegis_spark/ and every register_sql text is
    clean (tools/verify_all.sh runs the same scan)."""
    from tools.broadcast_audit import package_findings

    findings, n = package_findings()
    assert findings == [], "\n".join(findings)
    assert n["sql"] > 0  # the register_sql texts were scanned


def test_unmarked_sql_window_or_hint_is_a_finding():
    from tools.broadcast_audit import audit_sql

    def got(sql: str) -> list[str]:
        return audit_sql("q", sql)[0]

    part = "SELECT lag(x) OVER (\n  PARTITION BY u ORDER BY t) AS p FROM {events}"
    assert len(got(part)) == 1 and "(sql line 1)" in got(part)[0]
    assert not got("-- grpwin-ok: u scales with input\n" + part)
    assert not got("-- panel-ok: WindowGroupLimit pinned\n" + part)
    # a marker of the wrong rule does not clear it
    assert len(got("-- window-ok: days\n" + part)) == 1
    glob = "SELECT SUM(n) OVER (ORDER BY day) AS c FROM d"
    assert len(got(glob)) == 1
    assert not got(glob + " -- window-ok: one row per day")
    # a named window is held to the same rules on its WINDOW line
    named = "SELECT rank() OVER w AS r FROM {orders}\nWINDOW w AS (PARTITION BY p ORDER BY x)"
    assert len(got(named)) == 1 and "(sql line 2)" in got(named)[0]
    assert not got(named.replace("WINDOW", "-- panel-ok: 5 priorities\nWINDOW"))
    assert len(got("SELECT SUM(n) OVER w AS c FROM d WINDOW w AS (ORDER BY day)")) == 1
    hint = "SELECT /*+ BROADCAST(n) */ * FROM {lineitem} l JOIN {nation} n ON 1 = 1"
    assert len(got(hint)) == 1
    assert not got("-- bcast-ok: 25 nations\n" + hint)
