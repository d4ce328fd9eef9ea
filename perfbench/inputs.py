"""Seeded inputs for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed stages
byte-identical parquet, and the program under test only ever sees the
staged files.  Pages are generated; documents and embeddings are sampled
from the copies of the sf0.1 test tables in ``data/``.  Sizes are
fixed per workload in ``workloads.py``.
"""

from __future__ import annotations

import base64
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from manga_translator_spark.corpus import WORDS_EN, make_png

IMAGES_PER_PAGE = 16

# unchanged copies of the sf0.1 ``documents`` and ``embeddings`` test tables
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def image_page(page_id: int, seed: int) -> dict:
    """One image-dense page (~11 KB): a short paragraph and IMAGES_PER_PAGE
    glyph PNGs whose pixels carry the text the recognizer must read."""
    rng = random.Random(f"image-pages:{seed}:{page_id}")
    para = " ".join(rng.choice(WORDS_EN) for _ in range(rng.randint(12, 20)))
    imgs = "".join(
        '<img src="data:image/png;base64,%s" />'
        % base64.b64encode(
            make_png(f"panel {page_id} {k} " + " ".join(rng.choice(WORDS_EN) for _ in range(3)))
        ).decode()
        for k in range(IMAGES_PER_PAGE)
    )
    html = (
        f"<html><head><title>gallery {page_id}</title></head><body>"
        f"<article><p>{para.capitalize()}.</p>{imgs}</article></body></html>"
    ).encode()
    return {
        "url": f"https://gallery{page_id % 7:02d}.example.com/p{page_id:06d}",
        "warc_ts": None,
        "html": html,
        "text": para,
        "lang": "en",
    }


def write_part(rows: list[dict], path: str, k: int) -> None:
    """Pages as part ``k`` of a parquet table, like one partition of a
    ``corpus_df`` write."""
    pq.write_table(pa.Table.from_pylist(rows, schema=_PAGES_ARROW), os.path.join(path, f"part-{k:05d}.parquet"))


def read_pages_local(path: str) -> list[dict]:
    """(url, html) rows of a staged pages table, read without Spark."""
    t = pq.read_table(path, columns=["url", "html"])
    return t.to_pylist()


def sample_table(name: str, n: int, seed: int) -> pa.Table:
    """``n`` rows of the sf0.1 table ``name``, chosen by the seed without
    replacement and in the seed's order."""
    t = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
    idx = np.random.default_rng(seed).choice(t.num_rows, n, replace=False)
    return t.take(pa.array(idx))
