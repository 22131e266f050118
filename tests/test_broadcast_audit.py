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
