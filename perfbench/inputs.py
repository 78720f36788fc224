"""Seeded benchmark inputs, cached under `.perfbench/cache/`.

Inputs come from the program's own generator (`synth.generate_corpus`) and
are written as plain parquet with pyarrow, so the program only ever receives
parquet paths.  Each cache entry is keyed by what determines its contents
(kind, sizes, seed, `synth.SYNTH_VERSION`) and is only reused behind a
`_SUCCESS` marker; the persisted ingest state, which the program itself
builds, is also keyed by a digest of the program's source, so a code change
never reuses stale state.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

PAGE_FILES = 32

# Injected into every ingest shard, as shares of its fresh documents
# (the same mix as scripts/ingest_probe.py).
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.03
NEAR_DUP_SUFFIX = " probefootertoken"


def code_digest(package_dir: str) -> str:
    """Digest of the program's Python source."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def is_cached(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def cached(path: str, build) -> str:
    """Return `path`, building it with `build(tmp_dir)` first unless a
    complete (`_SUCCESS`-marked) copy exists.  The build writes into a
    sibling temp dir that is renamed into place only when complete."""
    if is_cached(path):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _write_pages(rows: list[tuple], path: str) -> None:
    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    os.makedirs(path)
    n_files = min(PAGE_FILES, max(1, len(rows)))
    for k in range(n_files):
        part = rows[k::n_files]
        cols = list(zip(*part))
        pq.write_table(
            pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


@dataclass
class KgInputs:
    pages: str  # parquet dir of the batch
    expected: list[tuple]  # golden (subj, pred, obj, url)
    urls: list[str]


def kg_inputs(cache_root: str, n_pages: int, seed: int) -> KgInputs:
    """A seeded crawl batch of `n_pages` HTML pages and its golden triples."""
    from ontology_pipeline_spark.synth import SYNTH_VERSION, generate_corpus

    def build(tmp: str) -> None:
        corpus = generate_corpus(n_pages, seed=seed)
        _write_pages(corpus.pages, os.path.join(tmp, "pages"))
        subj, pred, obj, url = zip(*corpus.expected_triples)
        pq.write_table(
            pa.table({"subj": subj, "pred": pred, "obj": obj, "url": url}),
            os.path.join(tmp, "expected.parquet"),
        )

    path = cached(os.path.join(cache_root, f"kg-n{n_pages}-s{seed}-v{SYNTH_VERSION}"), build)
    exp = pq.read_table(os.path.join(path, "expected.parquet")).to_pydict()
    return KgInputs(
        pages=os.path.join(path, "pages"),
        expected=list(zip(exp["subj"], exp["pred"], exp["obj"], exp["url"])),
        urls=pq.read_table(os.path.join(path, "pages"), columns=["url"]).column("url").to_pylist(),
    )


def doc_id(key: str) -> int:
    """Stable positive 63-bit document id."""
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "big") >> 1


def _salted(i: int, text: str) -> str:
    # Same-template synthetic pages are far more alike than web text
    # (2-shingle Jaccard ~0.9); 24 per-document tokens push unrelated pages
    # below the banding floor, so near-duplicate candidates come from the
    # injected duplicates (the treatment in scripts/ingest_probe.py).
    salt = " ".join(
        hashlib.md5(f"{i}{s}".encode()).hexdigest()[k : k + 4]
        for s in ("", "b", "c")
        for k in range(0, 32, 4)
    )
    return f"{text} {salt}"


def _docs(n: int, seed: int, tag: str) -> list[tuple[int, str, str]]:
    """(doc_id, salted text, generator language) per generated page."""
    from ontology_pipeline_spark.synth import generate_corpus

    out = []
    for url, _ts, _html, text, lang in generate_corpus(n, seed=seed).pages:
        i = doc_id(f"{tag}:{url}")
        out.append((i, _salted(i, text), lang))
    return out


def _write_docs(docs: list[tuple], path: str) -> None:
    os.makedirs(path)
    ids, texts = [d[0] for d in docs], [d[1] for d in docs]
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        os.path.join(path, "part-00000.parquet"),
    )


def history_inputs(cache_root: str, shards: int, shard_docs: int, seed: int) -> list[str]:
    """`shards` parquet dirs of salted history documents."""
    from ontology_pipeline_spark.synth import SYNTH_VERSION

    def build(tmp: str) -> None:
        docs = _docs(shards * shard_docs, seed, f"h{seed}")
        for k in range(shards):
            _write_docs(docs[k * shard_docs : (k + 1) * shard_docs], os.path.join(tmp, f"hist_{k}"))

    path = cached(
        os.path.join(cache_root, f"history-{shards}x{shard_docs}-s{seed}-v{SYNTH_VERSION}"), build
    )
    return [os.path.join(path, f"hist_{k}") for k in range(shards)]


def build_ingest_state(spark, entry: str, history: list[str]) -> None:
    """Cache entry holding, under `state/`, the persisted curation state
    after `ingest_shard` committed each history dir as its own shard
    (built by the program under test)."""
    from ontology_pipeline_spark.plans.ingest import ingest_shard

    def build(tmp: str) -> None:
        for k, hist in enumerate(history):
            ingest_shard(spark, spark.read.parquet(hist), os.path.join(tmp, "state"), shard_id=f"hist_{k}")

    cached(entry, build)


@dataclass
class ShardInputs:
    shard: str  # parquet dir of the new shard
    docs: int
    injected: list[tuple[int, int]]  # (duplicate id, history source id)


def shard_inputs(cache_root: str, shard_docs: int, seed: int, history_seed: int, history: list[str]) -> ShardInputs:
    """A seeded shard of `shard_docs` fresh documents plus exact and near
    copies of English history documents."""
    from ontology_pipeline_spark.synth import SYNTH_VERSION

    def build(tmp: str) -> None:
        hist = _docs(len(history) * _rows(history[0]), history_seed, f"h{history_seed}")
        english = [(i, text) for i, text, lang in hist if lang == "en"]
        rng = random.Random(seed)
        n_exact = int(shard_docs * EXACT_DUP_SHARE)
        n_near = int(shard_docs * NEAR_DUP_SHARE)
        src = rng.sample(english, n_exact + n_near)
        exact = [(doc_id(f"e{seed}:{i}"), text, i) for i, text in src[:n_exact]]
        near = [(doc_id(f"n{seed}:{i}"), text + NEAR_DUP_SUFFIX, i) for i, text in src[n_exact:]]
        docs = _docs(shard_docs, seed, f"s{seed}") + exact + near
        rng.shuffle(docs)
        _write_docs(docs, os.path.join(tmp, "shard"))
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d[0] for d in exact + near], pa.int64()),
                    "source_id": pa.array([d[2] for d in exact + near], pa.int64()),
                }
            ),
            os.path.join(tmp, "injected.parquet"),
        )

    key = os.path.basename(os.path.dirname(history[0]))
    path = cached(os.path.join(cache_root, f"shard-n{shard_docs}-s{seed}-{key}-v{SYNTH_VERSION}"), build)
    shard = os.path.join(path, "shard")
    inj = pq.read_table(os.path.join(path, "injected.parquet")).to_pydict()
    return ShardInputs(
        shard=shard,
        docs=_rows(shard),
        injected=list(zip(inj["doc_id"], inj["source_id"])),
    )


def _rows(parquet_dir: str) -> int:
    return pq.read_metadata(os.path.join(parquet_dir, "part-00000.parquet")).num_rows
