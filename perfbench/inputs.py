"""Seeded per-run inputs: the program sees only these files.

`--seed` sets the pipeline's URL lists, the order of the queries within a
pass, and the ingest files' contents (which docs are fresh, verbatim or
near duplicates of the corpus). Shares and sizes are fixed in
`workloads.json`, so every seed offers the same amount of work.
"""
import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

from gen_tables import WORDS

URL = "https://www.morphosource.org/concern/media/{:09d}?locale=en"
INGEST_ID_BASE = 10_000_000_000


def url_list(rng, n):
    return [URL.format(i) for i in rng.sample(range(1_000_000_000), n)]


def write_url_list(path, urls):
    with open(path, "w") as f:
        json.dump([{"url": u} for u in urls], f)


def pipeline_inputs(seed, spec, run_dir):
    """URL list files: one prime list, then one per timed pass."""
    rng = random.Random(seed)
    lists = {}
    prime = run_dir / "urls_prime.json"
    lists[str(prime)] = url_list(rng, spec["prime_urls"])
    timed = []
    for p in range(spec["passes"]):
        path = run_dir / f"urls_{p}.json"
        lists[str(path)] = url_list(rng, spec["urls_per_pass"])
        timed.append(str(path))
    for path, urls in lists.items():
        write_url_list(path, urls)
    return str(prime), timed, lists


def ingest_inputs(seed, spec, corpus_file, stage_dir):
    """Ingest files: id-shifted docs, each drawn as fresh text, a verbatim
    copy of a corpus doc, or a near duplicate (a corpus doc with one
    corpus-vocabulary word appended)."""
    corpus_texts = pq.read_table(corpus_file, columns=["text"]).column("text").to_pylist()
    rng = random.Random(seed * 7919 + 1)
    stage_dir.mkdir(parents=True)
    kinds = {"fresh": [], "verbatim": [], "near": []}
    n = spec["files"] * spec["docs_per_file"]
    order = (["verbatim"] * round(n * spec["verbatim_share"]) +
             ["near"] * round(n * spec["near_share"]))
    order += ["fresh"] * (n - len(order))
    rng.shuffle(order)
    files = []
    for f in range(spec["files"]):
        ids, texts = [], []
        for k in range(spec["docs_per_file"]):
            i = f * spec["docs_per_file"] + k
            doc_id = INGEST_ID_BASE + seed * 1_000_000 + i
            kind = order[i]
            if kind == "fresh":
                # words outside the corpus vocabulary: token-set Jaccard
                # with every corpus doc (and every other fresh doc) is low
                text = " ".join(f"w{rng.randrange(100_000)}"
                                for _ in range(rng.randint(10, 60)))
            else:
                text = rng.choice(corpus_texts)
                if kind == "near":
                    text = text + " " + rng.choice(WORDS)
            ids.append(doc_id)
            texts.append(text)
            kinds[kind].append(doc_id)
        path = stage_dir / f"part-{f:04d}.parquet"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), path)
        files.append(str(path))
    return files, kinds, n


def query_order(seed, names):
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
