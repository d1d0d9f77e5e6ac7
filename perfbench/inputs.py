"""Seed-keyed workload inputs, generated once per (seed, size) into a
cache the benchmark owns. Generation is never timed.

The pages come from :mod:`beholder_spark.fixtures`, so the golden
``text`` column that generator emits is the reference the output check
compares against. The daemon's datagrams carry their own sequence
numbers.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from beholder_spark import fixtures


def _cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, building it through a temporary
    directory and an atomic rename so a killed run never leaves a
    half-written entry behind."""
    path = os.path.join(cache_dir, key)
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path


def pages_input(cache_dir: str, seed: int, base: int, copies: int) -> dict:
    """``gen_pages(base, seed)`` replicated ``copies`` times, the host
    lookup for the same seed, and the facts the output check needs."""

    def build(d: str) -> None:
        pages = fixtures.gen_pages(base, seed)
        pq.write_table(pa.concat_tables([pages] * copies), os.path.join(d, "pages.parquet"))
        pq.write_table(fixtures.gen_host_lookup(seed), os.path.join(d, "lookup.parquet"))
        facts = {
            "rows": pages.num_rows * copies,
            "null_html": pages.column("html").null_count * copies,
        }
        with open(os.path.join(d, "facts.json"), "w") as f:
            json.dump(facts, f)

    d = _cached(cache_dir, f"pages-s{seed}-{base}x{copies}", build)
    with open(os.path.join(d, "facts.json")) as f:
        facts = json.load(f)
    return {
        "pages": os.path.join(d, "pages.parquet"),
        "lookup": os.path.join(d, "lookup.parquet"),
        **facts,
    }


_PROGRAMS = ("sshd", "nginx", "cron", "kernel", "systemd", "postfix", "app")


def udp_messages(seed: int, n: int) -> list[bytes]:
    """``n`` RFC3164 datagrams; message ``i`` carries ``seq=i`` in its
    body so the committed output can be matched back to its send time."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        pri = rng.randint(0, 23) * 8 + rng.randint(0, 7)
        host = f"node{rng.randint(0, 49):02d}"
        prog = rng.choice(_PROGRAMS)
        out.append(
            f"<{pri}>Jan  1 00:00:00 {host} {prog}[{rng.randint(100, 99999)}]: "
            f"seq={i} daemon benchmark message".encode()
        )
    return out
