"""Seeded load generator for ``chat_live``.

Everything the program receives is generated here from ``--seed``:

- a vocabulary of lowercase alphabetic words, 5-10 letters long, so each
  word is longer than ``MIN_WORD_LENGTH`` and no stopword, and survives
  ``countable_words`` exactly once;
- messages of 3-8 words drawn Zipf(1.1) over that vocabulary;
- a loopback IRC server (run as its own process, ``python3 -m
  perfbench.loadgen serve ...``) that sends the messages on an open-loop
  schedule: message ``i`` is due at ``t0 + i / rate``, and lateness is
  measured against that due time.

The generator keeps its own ``Counter`` of the words it drew; that is the
oracle the final word table is checked against.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import queue
import socket
import sys
import threading
import time
from collections import Counter

import numpy as np

ZIPF_S = 1.1
MIN_WORDS, MAX_WORDS = 3, 8
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
CHANNEL = "bench"
N_USERS = 1000
# A busy channel's peak (``streaming/probe.py``), over a ~5k-word vocabulary.
LIVE_RATE = 1000.0
LIVE_VOCAB = 5_000


def _rng(seed: int, tag: str) -> np.random.Generator:
    tag_int = int.from_bytes(hashlib.sha256(tag.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag_int])


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct lowercase alphabetic words of 5-10 letters; the
    list order is the Zipf rank order (index 0 is the most frequent)."""
    rng = _rng(seed, f"vocab{size}")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = size - len(words) + 64
        lens = rng.integers(5, 11, n)
        chars = LETTERS[rng.integers(0, 26, (n, 10))]
        for row, ln in zip(chars, lens):
            w = "".join(row[:ln])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words[:size]


def messages(seed: int, vocab: list[str], n: int) -> list[str]:
    """``n`` message texts of 3-8 words, each word Zipf(1.1)-ranked."""
    rng = _rng(seed, f"msgs{len(vocab)}:{n}")
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    draws = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    words = np.array(vocab, dtype=object)[draws]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos : pos + ln]))
        pos += ln
    return out


def users(seed: int, n: int) -> np.ndarray:
    return _rng(seed, f"users{n}").integers(0, N_USERS, n)


def word_counter(texts: list[str]) -> Counter:
    c: Counter = Counter()
    for t in texts:
        c.update(t.split(" "))
    return c


def wire_line(user: int, text: str) -> str:
    """One server-to-client PRIVMSG, as a Twitch IRC server sends it."""
    u = f"u{user}"
    return f":{u}!{u}@{u}.tmi.twitch.tv PRIVMSG #{CHANNEL} :{text}"


def digest(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c.encode() if isinstance(c, str) else c)
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# Open-loop schedule
# ---------------------------------------------------------------------------


def due_times(t0: float, rate: float, n: int) -> np.ndarray:
    return t0 + np.arange(n) / rate


def lateness(due: np.ndarray, sent: np.ndarray) -> np.ndarray:
    """How late the generator released each message (never negative: a
    message is not released before it is due)."""
    return np.maximum(sent - due, 0.0)


def run_schedule(
    send, n: int, rate: float, stop=lambda: False, clock=time.time, sleep=time.sleep
):
    """Release message ``i`` (``send(i)``) at ``t0 + i / rate``: open loop,
    so a slow consumer never delays the schedule. Stops early once
    ``stop()`` is true. Returns ``(t0, released)``: each message's release
    time, in the ``clock``'s seconds (unreleased messages keep 0)."""
    released = np.zeros(n)
    t0 = clock()
    i = 0
    while i < n and not stop():
        now = clock()
        due_n = min(n, int((now - t0) * rate + 1e-6) + 1)
        while i < due_n:
            send(i)
            released[i] = now
            i += 1
        if i < n:
            sleep(max(0.0, t0 + i / rate - clock()))
    return t0, released


def serve(seed: int, n: int, out) -> None:
    """Loopback IRC server. Prints ``PORT <n>``; every connection gets the
    whole schedule of ``n`` messages at ``LIVE_RATE`` from its own ``t0``
    (in its own thread) and one JSON report line when the schedule ends
    (early if the client disconnects). A ``stop <nick>`` line on stdin
    ends the schedules of that nick's connections; closing stdin exits."""
    texts = messages(seed, vocabulary(seed, LIVE_VOCAB), n)
    us = users(seed, n)
    payload = [(wire_line(int(u), t) + "\r\n").encode() for u, t in zip(us, texts)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    srv.settimeout(0.2)
    print(f"PORT {srv.getsockname()[1]}", file=out, flush=True)
    lock = threading.Lock()
    stops: dict[str, threading.Event] = {}
    done = threading.Event()

    def event(nick: str) -> threading.Event:
        with lock:
            return stops.setdefault(nick, threading.Event())

    def read_stdin():
        for line in sys.stdin:
            parts = line.split()
            if len(parts) == 2 and parts[0] == "stop":
                event(parts[1]).set()
        done.set()

    def report(rec: dict) -> None:
        with lock:
            print(json.dumps(rec), file=out, flush=True)

    threading.Thread(target=read_stdin, daemon=True).start()
    conns = []
    while not done.is_set():
        try:
            conn, _ = srv.accept()
        except socket.timeout:
            continue
        conns.append(conn)
        threading.Thread(
            target=_serve_one, args=(conn, payload, event, report), daemon=True
        ).start()
    for c in conns:
        c.close()
    srv.close()


def _serve_one(conn, payload, event, report) -> None:
    # wait for the client's NICK and JOIN before starting its clock
    buf = b""
    while b"JOIN" not in buf:
        data = conn.recv(4096)
        if not data:
            return
        buf += data
    nick = buf.split(b"NICK ", 1)[1].split(b"\r\n", 1)[0].decode().strip()
    told = event(nick)
    gone = threading.Event()  # this connection's reader went away

    def stop() -> bool:
        return told.is_set() or gone.is_set()

    def drain_client():  # PONGs etc.; EOF means the reader went away
        try:
            while conn.recv(4096):
                pass
        except OSError:
            pass
        gone.set()

    threading.Thread(target=drain_client, daemon=True).start()
    q: queue.SimpleQueue = queue.SimpleQueue()

    def writer():
        while True:
            b = q.get()
            if b is None:
                return
            try:
                conn.sendall(b)
            except OSError:
                gone.set()
                return

    wt = threading.Thread(target=writer, daemon=True)
    wt.start()
    t0, released = run_schedule(
        lambda i: q.put(payload[i]), len(payload), LIVE_RATE, stop=stop
    )
    q.put(None)
    wt.join()
    sent = int(np.count_nonzero(released))
    late = lateness(due_times(t0, LIVE_RATE, sent), released[:sent])
    report(
        {
            "nick": nick,
            "t0": t0,
            "sent": sent,
            "late_p50_ms": float(np.percentile(late, 50) * 1e3) if sent else 0.0,
            "late_p99_ms": float(np.percentile(late, 99) * 1e3) if sent else 0.0,
        }
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    a = ap.parse_args(argv)
    serve(a.seed, a.count, sys.stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
