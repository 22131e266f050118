"""tools/time_queries.count_py4j counts the round trips a build makes,
not the memory-release commands Python's garbage collector sends when
it frees a JavaObject (their number depends on when the collector runs).
Session-free: the gateway client is a fake."""

from __future__ import annotations

import importlib.util
from pathlib import Path
from types import SimpleNamespace

from py4j.protocol import (
    CALL_COMMAND_NAME,
    END_COMMAND_PART,
    MEMORY_COMMAND_NAME,
    MEMORY_DEL_SUBCOMMAND_NAME,
)

ROOT = Path(__file__).resolve().parent.parent


def _time_queries():
    spec = importlib.util.spec_from_file_location(
        "time_queries", ROOT / "tools" / "time_queries.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _FakeClient:
    def __init__(self):
        self.sent: list[str] = []

    def send_command(self, command, retry=True, binary=False):
        self.sent.append(command)
        return "yv"


def test_count_py4j_skips_memory_release_commands():
    client = _FakeClient()
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(_gateway=SimpleNamespace(_gateway_client=client))
    )
    calls = _time_queries().count_py4j(spark)
    call = CALL_COMMAND_NAME + "o12\ncount\n" + END_COMMAND_PART
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME + "o12\ne\n"
    for cmd in (call, release, call, release, release):
        assert client.send_command(cmd) == "yv"
    # a keyword-passed command is counted the same way
    client.send_command(command=call)
    assert calls == [3]
    assert len(client.sent) == 6  # every command still reaches the gateway
