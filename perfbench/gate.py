"""Correctness gate: the engine's table against the pure-Python oracle.

The oracle is ``datagen.reference_apply`` over the consumed log shards.
Every check returns a list of mismatch descriptions; an empty list means
the check passed.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from datax_spark.datagen.generator import reference_apply
from datax_spark.functions.extract import extract_text


def read_events(shards: list[str]) -> list[dict]:
    """Log events in log order. Shards written before the schema evolution
    lack the ``title`` column; their events carry no ``title`` key."""
    out: list[dict] = []
    for s in shards:
        out.extend(pq.read_table(s).to_pylist())
    return out


def check_table(table, events: list[dict]) -> list[str]:
    """Final table == reference_apply(events): key set, ``_lsn``, ``html``
    bytes, ``title``, and ``text == extract_text(html)``."""
    expect = reference_apply(events)
    cols = ["url", "_lsn", "html", "text"]
    if "title" in table.schema().fieldNames():
        cols.append("title")
    bad: list[str] = []
    seen: set[str] = set()
    for row in table.read(with_lsn=True).select(*cols).toLocalIterator():
        url = row["url"]
        if url in seen:
            bad.append(f"duplicate key {url}")
            continue
        seen.add(url)
        e = expect.get(url)
        if e is None:
            bad.append(f"key {url} in table, absent from the oracle")
            continue
        html = bytes(row["html"]) if row["html"] is not None else None
        if row["_lsn"] != e["lsn"]:
            bad.append(f"{url}: _lsn {row['_lsn']} != {e['lsn']}")
        elif html != e["html"]:
            bad.append(f"{url}: html differs")
        elif row["text"] != extract_text(html):
            bad.append(f"{url}: text != extract_text(html)")
        elif "title" in cols and row["title"] != e.get("title"):
            bad.append(f"{url}: title {row['title']!r} != {e.get('title')!r}")
    for url in expect.keys() - seen:
        bad.append(f"key {url} in the oracle, absent from the table")
    return bad


def check_replay(driver) -> list[str]:
    """Replaying every recorded epoch must be a no-op."""
    before = driver.table.current_version()
    driver.replay(0)
    after = driver.table.current_version()
    return [] if after == before else [f"replay(0) moved version {before} -> {after}"]


def check_lookups(lookups: list[dict], shard_events: list[list[dict]]) -> list[int]:
    """Indices of lookups whose rows disagree with the oracle state after
    the shards that had been applied when the lookup ran. A lookup is
    ``{"keys", "shards_applied", "rows": sorted [(url, _lsn, html)],
    "error"}``."""
    states: dict[int, dict] = {}
    failed: list[int] = []
    for i, lk in enumerate(lookups):
        n = lk["shards_applied"]
        if n not in states:
            states[n] = reference_apply([e for evs in shard_events[:n] for e in evs])
        state = states[n]
        want = sorted(
            (k, state[k]["lsn"], state[k]["html"]) for k in set(lk["keys"]) if k in state
        )
        if lk["error"] is not None or lk["rows"] != want:
            failed.append(i)
    return failed
