"""Seeded job inputs, materialised as pages parquet outside the timed section.

Every document comes from ``sources.synthdocs.gen_document(seed, doc_id)``,
the generator behind ``gen_page_row``.  A workload's slices are stratified
draws from that stream: each slice holds exactly half KTP pages and half
generic pages, and the generic half holds the same number of pages of each
body length (5..50 lines).  The marginal mix is the generator's own
(50% KTP / 50% generic, uniform body length, skewed hosts, 5% text-only,
5% html-only); stratifying only removes the seed-to-seed variance of the
mix, which otherwise swamps the throughput of a blended job, whose cost per
generic page is ~25x that of a KTP page.

Files are cached under ``<cache>/<key>/`` where the key covers the seed, the
slice layout and a digest of the generator's source, so a changed generator
never reuses stale inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from universal_key_value_based_text_processing_with_ocr_spark.sources import synthdocs

GENERIC_LENGTHS = range(5, 51)  # gen_generic_lines draws randint(5, 50)

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
PAGE_COLUMNS = [f.name for f in PAGES_ARROW_SCHEMA]


def _generator_digest() -> str:
    return hashlib.sha256(Path(synthdocs.__file__).read_bytes()).hexdigest()[:12]


class DocStream:
    """Stratified draws from one seed's document stream, in doc_id order.

    A drawn document is never drawn again, so slices taken one after another
    from one stream hold distinct urls."""

    def __init__(self, seed: int):
        self.seed = seed
        self.next_id = 0
        self.draws = 0
        self._pending: dict = {}  # stratum -> generated but not yet drawn

    def _stratum(self, doc: dict):
        return "ktp" if doc["lang"] == "ind" else len(doc["_lines"])

    def draw(self, n_docs: int) -> list[dict]:
        """``n_docs`` pages: n/2 KTP, n/2 generic spread evenly over body
        lengths.  A remainder goes to evenly spaced lengths, shifted from
        draw to draw, so every slice spans short and long pages alike."""
        n_generic = n_docs // 2
        quota = {"ktp": n_docs - n_generic}
        n_len = len(GENERIC_LENGTHS)
        per_len, extra = divmod(n_generic, n_len)
        plus_one = {(self.draws + i * n_len // extra) % n_len for i in range(extra)}
        self.draws += 1
        for i, n_lines in enumerate(GENERIC_LENGTHS):
            quota[n_lines] = per_len + (1 if i in plus_one else 0)
        out: list[dict] = []
        for stratum, want in quota.items():
            pending = self._pending.get(stratum, [])
            take = pending[:want]
            self._pending[stratum] = pending[want:]
            quota[stratum] = want - len(take)
            out.extend(take)
        while any(quota.values()):
            doc = synthdocs.gen_document(self.seed, self.next_id)
            self.next_id += 1
            stratum = self._stratum(doc)
            if quota[stratum] > 0:
                quota[stratum] -= 1
                out.append(doc)
            else:
                self._pending.setdefault(stratum, []).append(doc)
        # one fixed, seed-dependent order: shuffled, not grouped by stratum
        random.Random(f"order:{self.seed}:{self.draws}").shuffle(out)
        return [{k: d[k] for k in PAGE_COLUMNS} for d in out]


def write_pages(rows: list[dict], path: Path) -> None:
    table = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def read_pages(path: Path) -> list[dict]:
    return pq.read_table(path).to_pylist()


def materialise(
    cache_dir: Path, seed: int, layout: list[tuple[str, int, int]]
) -> dict[str, Path]:
    """Write one parquet file per ``(name, n_new, n_resend)`` entry of
    ``layout``; returns name -> path.

    Each file holds ``n_new`` pages drawn in order from the seed's stream
    plus ``n_resend`` pages drawn (seeded) from the files before it, so a
    sequence of files can mix new urls with ones an earlier job committed."""
    key = hashlib.sha256(
        json.dumps([seed, layout, _generator_digest()]).encode()
    ).hexdigest()[:16]
    root = cache_dir / f"seed{seed}-{key}"
    paths = {name: root / f"{name}.parquet" for name, _, _ in layout}
    if all(p.exists() for p in paths.values()):
        return paths
    stream = DocStream(seed)
    rng = random.Random(f"resend:{seed}")
    earlier: list[dict] = []
    for name, n_new, n_resend in layout:
        fresh = stream.draw(n_new)
        rows = fresh + rng.sample(earlier, n_resend)
        rng.shuffle(rows)
        write_pages(rows, paths[name])
        earlier.extend(fresh)
    return paths
