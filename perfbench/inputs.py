"""Seeded benchmark inputs: generation, on-disk cache and fingerprint.

The corpus comes from `fixtures.generate_corpus` and is written as parquet
outside every workdir, under `.bench_cache/`. The cache key holds the seed,
the size and a hash of the generator's source, so editing the generator can
never serve stale inputs. The fingerprint (row counts plus a content
checksum) is compared with the one pinned in `perfbench/inputs.json`: a
generator change that alters a pinned workload fails the benchmark instead
of silently moving its baseline.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from entity_matching_in_online_retail_spark import fixtures as fx

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.json")
# Page files per input: the layout a Spark writer of the corpus leaves
# (fixtures.write_corpus repartitions to 8), fixed so it does not follow
# the host's core count.
PAGE_FILES = 8


@dataclass(frozen=True)
class Size:
    """Generator arguments plus a page budget: whole entities are kept, in
    generation order, while their pages fit in `max_pages`. Cluster sizes
    are Zipf-drawn, so untrimmed page counts swing by +-12% from seed to
    seed; the budget keeps the work of a run nearly seed-independent."""

    entities: int
    hot_entities: int
    hot_size: int
    max_pages: int

    @property
    def key(self) -> str:
        return f"e{self.entities}-h{self.hot_entities}x{self.hot_size}-p{self.max_pages}"


def generator_hash() -> str:
    return hashlib.sha256(inspect.getsource(fx).encode()).hexdigest()[:16]


def fingerprint(corpus: fx.Corpus) -> dict:
    """Row counts plus a sha256 over every input value in row order."""
    h = hashlib.sha256()
    pages = corpus.web_pages
    ts = pages["warc_ts"].astype("int64")
    for url, t, html, text, lang in zip(
        pages["url"], ts, pages["html"], pages["text"], pages["lang"]
    ):
        h.update(f"{url}\t{t}\t{lang}\t{text}\n".encode())
        h.update(html)
    for row in corpus.labeled_pairs.itertuples(index=False):
        h.update(f"{row.url_l}\t{row.url_r}\t{row.label}\n".encode())
    for row in corpus.truth.itertuples(index=False):
        h.update(f"{row.url}\t{row.entity_id}\n".encode())
    return {
        "pages": len(pages),
        "labeled_pairs": len(corpus.labeled_pairs),
        "truth": len(corpus.truth),
        "sha256": h.hexdigest()[:32],
    }


def generate(size: Size, seed: int) -> fx.Corpus:
    corpus = fx.generate_corpus(
        n_entities=size.entities,
        hot_entities=size.hot_entities,
        hot_size=size.hot_size,
        seed=seed,
    )
    pages = corpus.web_pages
    # The generator's urls end in "-{entity}-{member}"; a format change fails
    # here loudly rather than trimming the wrong pages.
    entity = pages["url"].str.extract(r"-(\d+)-\d+$", expand=False).astype(int)
    cum = entity.value_counts().sort_index().cumsum()
    last = cum[cum <= size.max_pages].index.max()
    pages = pages[entity <= last].reset_index(drop=True)
    urls = set(pages["url"])
    pairs = corpus.labeled_pairs
    return fx.Corpus(
        web_pages=pages,
        labeled_pairs=pairs[pairs["url_l"].isin(urls) & pairs["url_r"].isin(urls)]
        .reset_index(drop=True),
        truth=corpus.truth[corpus.truth["url"].isin(urls)].reset_index(drop=True),
    )


def _write(corpus: fx.Corpus, out: str) -> None:
    pages = pa.Table.from_pandas(corpus.web_pages, preserve_index=False)
    pages = pages.set_column(
        pages.schema.get_field_index("warc_ts"),
        "warc_ts",
        pages["warc_ts"].cast(pa.timestamp("us", tz="UTC")),
    )
    os.makedirs(os.path.join(out, "web_pages"))
    step = -(-pages.num_rows // PAGE_FILES)
    for i in range(PAGE_FILES):
        pq.write_table(
            pages.slice(i * step, step),
            os.path.join(out, "web_pages", f"part-{i:05d}.parquet"),
        )
    for name, df in (("labeled_pairs", corpus.labeled_pairs), ("truth", corpus.truth)):
        os.makedirs(os.path.join(out, name))
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out, name, "part-00000.parquet"),
        )


def pinned(size: Size, seed: int) -> dict | None:
    with open(PINNED) as f:
        return json.load(f).get(size.key, {}).get(str(seed))


def ensure(root: str, size: Size, seed: int) -> tuple[str, dict]:
    """(input dir, fingerprint) for this size and seed, generating on a miss."""
    d = os.path.join(
        root, ".bench_cache", "perfbench", f"{size.key}-s{seed}-g{generator_hash()}"
    )
    done = os.path.join(d, "fingerprint.json")
    if not os.path.exists(done):
        corpus = generate(size, seed)
        shutil.rmtree(d, ignore_errors=True)
        _write(corpus, d)
        with open(done + ".tmp", "w") as f:
            json.dump(fingerprint(corpus), f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        return d, json.load(f)
