"""Driver-contract guard for __spark_entry__: the three functions the
harness calls, their shapes, and the gate-window invariants the
rotation policy promises (COVERAGE.md) — so a refactor that breaks
the contract fails HERE, not in the driver's round report."""

from __future__ import annotations

import __spark_entry__ as ent


def test_entry_module_shape():
    q = ent.queries()
    o = ent.oracle_sql()
    assert callable(ent.entry)
    assert isinstance(q, dict) and isinstance(o, dict)
    assert len(q) >= 136
    # every oracle key is a registered query, every oracle is SQL text
    assert set(o) <= set(q)
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())


def test_gate_window_rows_only_policy():
    """The driver records roughly the first 50 queries; already-gated
    rows-only entries there burn gate slots on err:no_oracle rows
    (VERDICT r3 #2), so they stay dead last — but a NEVER-gated
    rows-only query earns one debut appearance so every registered
    query has at least one driver row (VERDICT r7 #3)."""
    q = list(ent.queries())
    o = ent.oracle_sql()
    last = _last_gated()
    for k in q[:50]:
        if k not in o:
            assert k not in last, f"gated rows-only query {k} in window"
    # the already-gated rows-only block really is terminal
    tail = [k for k in q if k not in o and k in last]
    assert q[-len(tail):] == tail


def _last_gated():
    import glob
    import json
    import re

    last = {}
    for p in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        r = int(re.search(r"r(\d+)\.json$", p).group(1))
        for name in json.load(open(p)):
            last[name] = max(last.get(name, 0), r)
    return last


def test_entry_runs_smoke(spark):
    """entry() must run on the smallest fixture and return a stable
    non-empty schema (the driver's smoke check)."""
    df = ent.entry(spark)
    assert df.schema.fields
    assert df.count() >= 0


def test_gate_rotation_policy():
    """all_queries() ordering: never-gated oracled queries first, then
    hash-red re-gates (r9 rule), then never-gated rows-only debuts,
    then gated oracled queries in ascending last-gated round (from the
    committed CORRECTNESS_r*.json artifacts), already-gated rows-only
    queries dead last."""
    from mpes_spark.registry import _gate_history

    from __spark_entry__ import oracle_sql, queries

    q = list(queries())
    o = set(oracle_sql())
    last, red = _gate_history()
    blocks = [
        [n for n in q if n in o and n not in last],
        [n for n in q if n in o and n in last and n in red],
        [n for n in q if n not in o and n not in last],
        [n for n in q if n in o and n in last and n not in red],
        [n for n in q if n not in o and n in last],
    ]
    assert q == [n for b in blocks for n in b]
    # gated-oracled blocks are sorted by last-gated round (ties keep order)
    for blk in (blocks[1], blocks[3]):
        rounds = [last[n] for n in blk]
        assert rounds == sorted(rounds)


def test_env_extra_conf_parsing():
    from mpes_spark.session import _env_extra_conf

    assert _env_extra_conf("") == {}
    assert _env_extra_conf(" ; ;") == {}
    assert _env_extra_conf("a=1") == {"a": "1"}
    assert _env_extra_conf(
        " spark.io.compression.codec = zstd ; spark.sql.join.preferSortMergeJoin=false"
    ) == {
        "spark.io.compression.codec": "zstd",
        "spark.sql.join.preferSortMergeJoin": "false",
    }
    # malformed entries (no '=', empty key) are ignored, valid ones kept
    assert _env_extra_conf("noequals; =v; k=a=b") == {"k": "a=b"}


def test_driver_memory_default_follows_usable_memory(monkeypatch, tmp_path):
    """The driver heap defaults to half the memory the process can use
    (physical pages, capped by a cgroup v2 ``memory.max``), within
    [1g, 48g]."""
    from mpes_spark import session as S

    gib = 2**30
    pages = {"SC_PHYS_PAGES": 64 * gib // 4096, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(S.os, "sysconf", pages.__getitem__)
    cg = tmp_path / "memory.max"
    monkeypatch.setattr(S, "_CGROUP_MEMORY_MAX", str(cg))
    assert S._usable_memory() == 64 * gib  # no cgroup file
    cg.write_text("max\n")
    assert S._usable_memory() == 64 * gib  # no limit set
    cg.write_text(f"{8 * gib}\n")
    assert S._usable_memory() == 8 * gib  # the cgroup limit wins
    assert S._default_driver_mem() == "4096m"

    for usable, want in [(15 * gib, "7680m"), (512 * gib, "49152m"), (gib, "1024m")]:
        monkeypatch.setattr(S, "_usable_memory", lambda u=usable: u)
        assert S._default_driver_mem() == want
