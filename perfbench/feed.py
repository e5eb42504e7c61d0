"""Seeded Debezium-JSON feed generator and the model of what the sink must hold.

Run as its own process (one thread):

    python3 perfbench/feed.py <spec.json>

The spec names a mode:

- ``live``: an open-loop schedule. File k holds the events due in
  [t0 + k*interval, t0 + (k+1)*interval) and is published when its last
  event is due. A slow pipeline does not slow the schedule; a late
  generator writes the file as soon as it can and records how late it was.
- ``backlog``: every file is written up front, as fast as possible.

Each file is written under a hidden name (``.tmp-*``, which the file source
ignores) and then renamed, so a reader never sees half a file. Every event's
``ts_ms`` is its due time. When the generator ends it writes the model to
the spec's ``model`` path: per table the expected row count and an
order-insensitive checksum, the DDL statements, the last position, the
latest-state image of keyed tables, and one record per file (due time,
write time, positions; for a backlog also the per-table rows and checksum
and the latest-state image as of that file's end).

The checksums are sums of CRC-32 over ``|``-joined fields, so Spark can
recompute them with ``crc32(concat_ws('|', ...))``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import zlib

DB = "bench"
BINLOG = "bin.000001"
DAY_MS = 86_400_000
# 2024-01-01T00:00:00Z: the backlog profiles stamp event time from here
BASE_MS = 1_704_067_200_000
TEXT_BODY = "lorem ipsum dolor sit amet " * 7

# wide profile: one ~12-column table with a ~200-byte string
WIDE_COLS = (
    "id", "ver", "c_int", "c_long", "c_dbl", "c_dbl2", "c_code", "c_name",
    "c_flag", "c_day", "c_amt", "c_text",
)
OP_CODE = {"c": "INSERT", "u": "UPDATE", "d": "DELETE", "r": "READ"}


def crc(text: str) -> int:
    return zlib.crc32(text.encode())


def row_digest(pos: int, op: str, image: dict) -> int:
    """Per-event checksum term, as ``crc32(concat_ws('|', _binlog_pos_internal,
    _op, id, ver))`` over a published row."""
    return crc(f"{pos}|{OP_CODE[op]}|{image['id']}|{image['ver']}")


def state_digest(image: dict) -> int:
    """Latest-state checksum term, as ``crc32(concat_ws('|', id, ver,
    c_code))`` over a compacted row."""
    return crc(f"{image['id']}|{image['ver']}|{image['c_code']}")


class Feed:
    """Deterministic event source: the same spec gives the same lines."""

    def __init__(self, spec: dict):
        self.spec = spec
        self.rng = random.Random(spec["seed"])
        self.profile = spec["profile"]
        self.tables = (
            [f"t{i}" for i in range(spec.get("n_tables", 4))]
            if self.profile == "multi"
            else ["wide"]
        )
        self.keyspace = spec.get("keyspace", 20_000)
        # table -> {id: (latest image, its JSON)}
        self.live = {t: {} for t in self.tables}
        self.live_ids = {t: [] for t in self.tables}
        self.pos = 0
        self.n_events = 0  # unique events (data + DDL)
        self.rows = {t: 0 for t in self.tables}
        self.digest = {t: 0 for t in self.tables}
        self.ddl: list[str] = []
        self.last_pos = 0  # last non-READ position (the offset file's target)
        self.recent: list[str] = []  # lines eligible for redelivery
        self.redelivered = 0
        self.snapshot_left = spec.get("snapshot_rows", 0)

    # -- event construction -------------------------------------------

    def _hex(self, n: int) -> str:
        """n random hex digits."""
        return f"{self.rng.getrandbits(4 * n):0{n}x}"

    def _image(self, table: str, key: int, ver: int) -> dict:
        r = self.rng
        if self.profile == "multi":
            return {
                "id": key,
                "grp": r.randrange(100),
                "amount": round(r.random() * 1000, 2),
                "note": self._hex(12),
                "ver": ver,
            }
        return {
            "id": key,
            "ver": ver,
            "c_int": r.getrandbits(20),
            "c_long": r.getrandbits(40),
            "c_dbl": round(r.random() * 1e4, 3),
            "c_dbl2": round(r.random(), 6),
            "c_code": self._hex(6),
            "c_name": self._hex(16),
            "c_flag": r.random() < 0.5,
            "c_day": f"2024-01-{1 + r.randrange(28):02d}",
            "c_amt": round(r.random() * 500, 2),
            # ~200 bytes: a varying head plus a shared body keeps it cheap
            "c_text": self._hex(8) + "-" + TEXT_BODY,
        }

    def _line(self, op: str, table: str, ts: int, before, after, snapshot=False) -> str:
        """One data event; before/after are (image, json) pairs or None."""
        self.pos += 1
        pos = self.pos
        image = before[0] if op == "d" else after[0]
        self.rows[table] += 1
        self.digest[table] += row_digest(pos, op, image)
        self.n_events += 1
        if op != "r":
            self.last_pos = pos
        snap = "true" if snapshot else "false"
        return (
            f'{{"op":"{op}","ts_ms":{ts},'
            f'"before":{before[1] if before else "null"},'
            f'"after":{after[1] if after else "null"},'
            f'"source":{{"db":"{DB}","table":"{table}","file":"{BINLOG}",'
            f'"pos":{pos},"snapshot":"{snap}"}},'
            f'"offset_file":"{BINLOG}","offset_pos":{pos}}}'
        )

    def _ddl_line(self, table: str, ts: int) -> str:
        self.pos += 1
        stmt = f"ANALYZE TABLE {table}"
        self.ddl.append(f"{self.pos}|{stmt}")
        self.n_events += 1
        self.last_pos = self.pos
        return json.dumps(
            {
                "ddl": stmt,
                "ts_ms": ts,
                "source": {"db": DB, "table": table, "file": BINLOG, "pos": self.pos},
                "offset_file": BINLOG,
                "offset_pos": self.pos,
            },
            separators=(",", ":"),
        )

    def _json(self, im: dict) -> str:
        """The image as compact JSON (what json.dumps gives for these
        fields, whose strings need no escaping), written out by hand for
        speed."""
        if self.profile == "multi":
            return (f'{{"id":{im["id"]},"grp":{im["grp"]},"amount":{im["amount"]!r},'
                    f'"note":"{im["note"]}","ver":{im["ver"]}}}')
        return (f'{{"id":{im["id"]},"ver":{im["ver"]},"c_int":{im["c_int"]},'
                f'"c_long":{im["c_long"]},"c_dbl":{im["c_dbl"]!r},'
                f'"c_dbl2":{im["c_dbl2"]!r},"c_code":"{im["c_code"]}",'
                f'"c_name":"{im["c_name"]}","c_flag":{"true" if im["c_flag"] else "false"},'
                f'"c_day":"{im["c_day"]}","c_amt":{im["c_amt"]!r},"c_text":"{im["c_text"]}"}}')

    def _put(self, table: str, image: dict) -> tuple:
        """Store the image as the key's latest; return (image, its JSON)."""
        key = image["id"]
        if key not in self.live[table]:
            self.live_ids[table].append(key)
        entry = (image, self._json(image))
        self.live[table][key] = entry
        return entry

    def _pick_live(self, table: str) -> int:
        # live_ids may still hold deleted keys; they are dropped when picked
        ids, live = self.live_ids[table], self.live[table]
        while True:
            i = self.rng.randrange(len(ids))
            key = ids[i]
            if key in live:
                return key
            ids[i] = ids[-1]
            ids.pop()

    def event(self, ts: int) -> str:
        """The next event line, advancing the model."""
        r = self.rng
        if self.snapshot_left > 0:
            self.snapshot_left -= 1
            key = self.spec.get("snapshot_rows", 0) - self.snapshot_left - 1
            entry = self._put("wide", self._image("wide", key, 0))
            return self._line("r", "wide", ts, None, entry, snapshot=True)
        table = self.tables[r.randrange(len(self.tables))]
        ddl_every = self.spec.get("ddl_every", 0)
        if ddl_every and r.randrange(ddl_every) == 0:
            return self._ddl_line(table, ts)
        live = self.live[table]
        x = r.random()
        if len(live) < 64 or (x < 0.5 and len(live) < self.keyspace // 2):
            key = r.randrange(self.keyspace)
            while key in live:
                key = r.randrange(self.keyspace)
            entry = self._put(table, self._image(table, key, 0))
            return self._line("c", table, ts, None, entry)
        key = self._pick_live(table)
        old = live[key]
        if x < 0.85:
            entry = self._put(table, self._image(table, key, old[0]["ver"] + 1))
            return self._line("u", table, ts, old, entry)
        del live[key]
        return self._line("d", table, ts, old, None)

    def file_lines(self, n: int, ts_of) -> list[str]:
        """n fresh events (event i stamped ts_of(i)) plus, when the spec
        asks for it, verbatim copies of earlier events (redelivery)."""
        lines = [self.event(ts_of(i)) for i in range(n)]
        frac = self.spec.get("redeliver_frac", 0.0)
        if frac and self.recent:
            k = int(round(n * frac))
            copies = [self.rng.choice(self.recent) for _ in range(k)]
            self.redelivered += len(copies)
            out = lines + copies
        else:
            out = lines
        if frac:
            self.recent = lines
        return out

    # -- model ----------------------------------------------------------

    def tables_so_far(self) -> dict:
        return {t: {"rows": self.rows[t], "digest": self.digest[t]} for t in self.tables}

    def state_so_far(self) -> dict:
        """The latest-state image of the wide table: rows and checksum."""
        live = self.live["wide"]
        return {"rows": len(live),
                "digest": sum(state_digest(img) for img, _ in live.values())}

    def model(self) -> dict:
        out = {
            "db": DB,
            "tables": self.tables_so_far(),
            "ddl": sorted(self.ddl),
            "events": self.n_events,
            "redelivered": self.redelivered,
            "last_pos": self.last_pos,
            "last_offset": f"{BINLOG},{self.last_pos}",
        }
        if self.profile == "wide":
            out["state"] = self.state_so_far()
        return out


def _publish(feed_dir: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(feed_dir, f".tmp-{name}")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(feed_dir, name))


def generate(spec: dict) -> dict:
    """Write the feed the spec describes and return its model."""
    feed_dir = spec["dir"]
    os.makedirs(feed_dir, exist_ok=True)
    feed = Feed(spec)
    files = []
    if spec["mode"] == "live":
        rate = spec["rate"]
        interval = spec["interval_s"]
        per_file = int(round(rate * interval))
        n_files = int(round(spec["duration_s"] / interval))
        t0 = spec["t0"]  # wall-clock seconds
        for k in range(n_files):
            base = k * per_file
            lines = feed.file_lines(
                per_file, lambda i: int((t0 + (base + i) / rate) * 1000)
            )
            first = feed.pos - per_file + 1
            due = t0 + (k + 1) * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            _publish(feed_dir, f"f{k:06d}.json", lines)
            files.append(
                {"due": due, "written": time.time(), "first_pos": first,
                 "last_pos": feed.pos, "events": per_file}
            )
    else:
        per_file = spec["events_per_file"]
        span_ms = spec.get("span_days", 0) * DAY_MS
        total = spec["n_files"] * per_file
        for k in range(spec["n_files"]):
            base = k * per_file
            lines = feed.file_lines(
                per_file,
                lambda i: BASE_MS + (span_ms * (base + i)) // max(total, 1),
            )
            _publish(feed_dir, f"f{k:06d}.json", lines)
            # what the sink holds once this file has committed: event rows
            # per table so far, and (wide) the latest-state image
            files.append(
                {"due": None, "written": time.time(),
                 "first_pos": feed.pos - per_file + 1, "last_pos": feed.pos,
                 "events": per_file, "tables": feed.tables_so_far(),
                 "state": feed.state_so_far() if feed.profile == "wide" else None}
            )
    model = feed.model()
    model["files"] = files
    return model


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    model = generate(spec)
    tmp = spec["model"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(model, f)
    os.rename(tmp, spec["model"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
