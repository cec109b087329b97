"""Open-loop SSE generator for the `sse_land` workload.

Runs as its own process so that its schedule never slows when the system
under test slows.  It listens on a loopback port and answers every HTTP
request with a `text/event-stream` response; connections are numbered in
the order they arrive.  Commands arrive one JSON object per line on stdin
and each gets one JSON line back on stdout:

  {"cmd": "send", "conn": 0, "first": 0, "count": 1000, "rate": 40000,
   "at": 1700000000.25}
      Render events first..first+count-1, then send them on connection
      `conn`: paced at `rate` events/s, or all at once when `rate` is 0,
      starting when rendering ends or at epoch time `at` if that is later.
      Replies with the schedule start `t0` (epoch seconds) and how late the
      sender ran behind its schedule.
  {"cmd": "conns"}   Replies with the number of connections accepted.
  {"cmd": "stop"}    Closes every connection and exits (so does EOF).

Event `i` carries `id: i` and a Wikimedia recentchange payload with the
fields of `schemas.RECENTCHANGE_SCHEMA` (~700 bytes, as the in-repo sample
event), drawn from a pool seeded by `--seed`.
"""

from __future__ import annotations

import argparse
import json
import random
import socket
import sys
import threading
import time
from datetime import datetime, timezone
from uuid import UUID

import numpy as np

POOL = 1024
TICK_S = 0.002
HEADERS = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n"
    b"Cache-Control: no-cache\r\nConnection: keep-alive\r\n\r\n"
)
RC_TYPES = ("edit", "edit", "edit", "new", "log", "categorize")
WIKIS = (
    ("enwiki", "en.wikipedia.org"),
    ("dewiki", "de.wikipedia.org"),
    ("frwiki", "fr.wikipedia.org"),
    ("commonswiki", "commons.wikimedia.org"),
    ("wikidatawiki", "www.wikidata.org"),
)
WORDS = (
    "article", "category", "reference", "source", "update", "section", "link",
    "image", "template", "revert", "typo", "infobox", "citation", "history",
    "removed", "added", "population", "election", "season", "village", "river",
)
LOG_ACTIONS = (("patrol", "autopatrol"), ("upload", "upload"), ("block", "block"))


def payload_pool(seed: int) -> list[tuple[bytes, bytes]]:
    """(event name, data) pairs: recentchange events with every field of
    `schemas.RECENTCHANGE_SCHEMA` (the in-repo sample's shape), seeded values.
    Compact JSON of 650-1050 bytes, ~760 on average; the sample itself is
    657 bytes compact."""
    r = random.Random(seed)
    words = lambda lo, hi: " ".join(r.choice(WORDS) for _ in range(r.randint(lo, hi)))
    uuid = lambda: str(UUID(int=r.getrandbits(128), version=4))
    pool = []
    for _ in range(POOL):
        kind = r.choice(RC_TYPES)
        wiki, domain = r.choice(WIKIS)
        title = words(1, 3).capitalize()
        url_title = title.replace(" ", "_")
        comment = words(0, 6)
        ts = 1_700_000_000 + r.randint(0, 86_400)
        data = {
            "$schema": "/mediawiki/recentchange/1.0.0",
            "meta": {
                "uri": f"https://{domain}/wiki/{url_title}",
                "request_id": uuid(),
                "id": uuid(),
                "dt": datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
                "domain": domain,
                "stream": "mediawiki.recentchange",
            },
            "id": r.randint(1_000_000_000, 2_000_000_000),
            "type": kind,
            "namespace": -1 if kind == "log" else r.choice((0, 0, 0, 1, 2, 4, 14)),
            "title": title,
            "comment": comment,
            "timestamp": ts,
            "user": f"User{r.randint(0, 99_999)}",
            "bot": r.random() < 0.2,
            "server_url": f"https://{domain}",
            "server_name": domain,
            "server_script_path": "/w",
            "wiki": wiki,
            "parsedcomment": (
                f'<a href="/wiki/{url_title}" title="{title}">{title}</a>: {comment}'
                if r.random() < 0.25 else comment
            ),
        }
        if kind == "log":
            log_type, log_action = r.choice(LOG_ACTIONS)
            data.update(
                log_id=r.randint(100_000_000, 200_000_000),
                log_type=log_type,
                log_action=log_action,
                log_params={"img_sha1": f"{r.getrandbits(160):040x}", "img_timestamp": ts},
                log_action_comment=comment,
            )
        else:
            old, rev = r.randint(0, 60_000), r.randint(1_000_000_000, 1_200_000_000)
            data.update(
                minor=r.random() < 0.3,
                patrolled=r.random() < 0.5,
                length={"old": old, "new": old + r.randint(-500, 2_000)},
                revision={"old": rev, "new": rev + r.randint(1, 5_000)},
            )
        pool.append((kind.encode(), json.dumps(data, separators=(",", ":")).encode()))
    return pool


def render(pool, first: int, count: int) -> tuple[bytes, np.ndarray]:
    """Wire bytes of events first..first+count-1 and the byte offset at
    which each event starts (plus the end offset)."""
    parts = []
    for i in range(first, first + count):
        name, data = pool[(i * 2_654_435_761) % POOL]
        parts.append(b"id: %d\nevent: %s\ndata: %s\n\n" % (i, name, data))
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum([len(p) for p in parts], out=offsets[1:])
    return b"".join(parts), offsets


def send_paced(sock, buf: bytes, offsets, rate: float, t0: float) -> np.ndarray:
    """Send event i at t0 + i/rate (in TICK_S chunks); return each event's
    lateness in seconds."""
    n = len(offsets) - 1
    view = memoryview(buf)
    late = np.empty(n)
    sent = 0
    while sent < n:
        now = time.time()
        due = min(n, int((now - t0) * rate) + 1)
        if due > sent:
            late[sent:due] = now - (t0 + np.arange(sent, due) / rate)
            sock.sendall(view[offsets[sent]:offsets[due]])
            sent = due
        time.sleep(TICK_S)
    return late


class Generator:
    def __init__(self, seed: int):
        self.pool = payload_pool(seed)
        self.server = socket.create_server(("127.0.0.1", 0))
        self.conns: list[socket.socket] = []
        self.cond = threading.Condition()
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self.server.accept()
            except OSError:
                return
            try:
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                request = b""
                while b"\r\n\r\n" not in request:
                    chunk = conn.recv(4096)
                    if not chunk:
                        raise ConnectionError("closed before its request ended")
                    request += chunk
                conn.sendall(HEADERS + b": stream start\n\n")
            except OSError:  # a client that went away keeps no number
                conn.close()
                continue
            with self.cond:
                self.conns.append(conn)
                self.cond.notify_all()

    def conn(self, k: int, timeout_s: float = 60.0) -> socket.socket:
        with self.cond:
            if not self.cond.wait_for(lambda: len(self.conns) > k, timeout_s):
                raise TimeoutError(f"no connection #{k} within {timeout_s}s")
            return self.conns[k]

    def send(self, conn: int, first: int, count: int, rate: float, at: float = 0.0) -> dict:
        sock = self.conn(conn)
        buf, offsets = render(self.pool, first, count)
        time.sleep(max(0.0, at - time.time()))
        t0 = time.time()
        if rate > 0:
            late = send_paced(sock, buf, offsets, rate, t0)
            late_p99 = float(np.percentile(late, 99))
        else:
            sock.sendall(buf)
            late_p99 = 0.0
        return {"t0": t0, "t_end": time.time(), "late_p99_s": late_p99}

    def close(self) -> None:
        self.server.close()
        with self.cond:
            for c in self.conns:
                c.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    gen = Generator(args.seed)
    print(json.dumps({"port": gen.server.getsockname()[1]}), flush=True)
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            if cmd["cmd"] == "stop":
                break
            if cmd["cmd"] == "conns":
                with gen.cond:
                    reply = {"conns": len(gen.conns)}
            else:
                reply = gen.send(cmd["conn"], cmd["first"], cmd["count"], cmd["rate"],
                                 cmd.get("at", 0.0))
            print(json.dumps(reply), flush=True)
    finally:
        gen.close()


if __name__ == "__main__":
    main()
