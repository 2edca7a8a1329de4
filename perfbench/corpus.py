"""Seeded inputs for every workload.

Two families, both a pure function of the seed:

* the analytics corpus (``documents`` and ``events`` parquet tables) in
  the shape of the driver corpus that sparklog's queries and DuckDB
  oracles are written against: a 30-word vocabulary, 5% planted
  near-duplicates marked with the token ``dup``, events spread over
  January 2024 with ``ts`` stored as TIMESTAMP(NANOS);
* raw IRC protocol lines for the streaming ingest: PRIVMSG traffic with
  ACTION remarks, PING/NOTICE/blank/long-nick/invalid-UTF-8 noise and
  re-deliveries, plus the set of ids the keyed table must hold
  afterwards, derived here independently of the program.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
JAN_2024_US = 1_704_067_200_000_000
MONTH_US = 30 * 86_400_000_000


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write ``documents.parquet`` and ``events.parquet`` for scale
    factor ``sf`` (sf0.01: 500 docs, 10k events; sf0.1: 5k, 100k)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    _write_documents(out_dir, max(500, int(50_000 * sf)), rng)
    _write_events(out_dir, int(1_000_000 * sf), max(150, int(15_000 * sf)), rng)


def _write_documents(out_dir: str, n: int, rng: np.random.Generator) -> None:
    lengths = rng.integers(10, 100, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # planted near-duplicates: 5% of docs are another doc plus 1-2 'dup'
    dups = rng.choice(n, size=n // 20, replace=False)
    is_dup = np.zeros(n, dtype=bool)
    is_dup[dups] = True
    bases = np.flatnonzero(~is_dup)
    for d in dups:
        base = texts[int(rng.choice(bases))]
        texts[d] = base + " dup" * int(rng.integers(1, 3))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, size=n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))


def _write_events(out_dir: str, n: int, n_users: int, rng: np.random.Generator) -> None:
    ts_us = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, size=n))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us * 1000, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, size=n)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )
    # TIMESTAMP(NANOS) on disk, as in the driver corpus the loader expects
    pq.write_table(table, os.path.join(out_dir, "events.parquet"), version="2.6")


# ------------------------------------------------------------ raw IRC lines
CHANNELS = [f"#chan-{i:02d}" for i in range(24)]
NOISE = [
    b"PING :irc.example.net",
    b":irc.example.net NOTICE * :*** Looking up your hostname...",
    b"   ",
    b":averyveryloongnick17!~x@h3.example.com PRIVMSG #noise :dropped",
    b":bad!~b@h.example.com PRIVMSG #noise :caf\xff\xfe bytes",
]
SCALE_ID_SEP = "\x1f"
#: shares of noise lines and of re-deliveries among generated lines
NOISE_SHARE = 0.05
REDELIVER_SHARE = 0.05


def expected_id(channel: str, nick: str, remark: str) -> str:
    """The keyed table's content id, computed without Spark: sha-256
    over the value-sorted (channel, nick, remark) joined by 0x1f."""
    return hashlib.sha256(SCALE_ID_SEP.join(sorted((channel, nick, remark))).encode()).hexdigest()


class IrcLines:
    """Seeded PRIVMSG generator that remembers what it emitted.

    ``emitted`` maps id -> (channel, nick, remark) for every valid
    message line handed out, which is exactly the set the keyed table
    must contain after ingesting those lines. Re-deliveries repeat any
    message line sent before, pre-seeded table rows included."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"irc-{seed}")
        self.nicks = [f"nick{i:04d}" for i in range(400)]
        self.emitted: dict[str, tuple[str, str, str]] = {}
        self.sent: list[bytes] = []

    def _message(self) -> bytes:
        rng = self.rng
        nick = rng.choice(self.nicks)
        channel = rng.choice(CHANNELS)
        # the serial keeps every fresh message distinct
        body = " ".join(rng.choices(VOCAB, k=rng.randint(3, 11))) + f" m{len(self.sent)}"
        action = rng.random() < 0.1
        remark = f"ACTION {body}" if action else body
        row = (channel, nick, f"/me {body}" if action else body)
        self.emitted[expected_id(*row)] = row
        line = f":{nick}!~{nick}@h{rng.randrange(7)}.example.com PRIVMSG {channel} :{remark}".encode()
        self.sent.append(line)
        return line

    def lines(self, n: int) -> list[bytes]:
        """``n`` raw lines: fresh messages, noise and re-deliveries."""
        rng = self.rng
        out: list[bytes] = []
        for _ in range(n):
            r = rng.random()
            if r < NOISE_SHARE:
                out.append(rng.choice(NOISE))
            elif r < NOISE_SHARE + REDELIVER_SHARE and self.sent:
                out.append(rng.choice(self.sent))
            else:
                out.append(self._message())
        return out
