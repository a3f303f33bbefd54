"""The benchmark's index fixture, built once per checkout.

Both workloads query the same seeded code corpus. Its index is built by
the checkout's own `build_index` the first time the benchmark runs, in a
fresh process (a cold JVM, as a batch build job starts), and kept under
`.perfbench/fixture-<key>/`. The key hashes the engine's sources and
this module's and the harness's, so any change that can alter the build
builds a new fixture. Every run then copies the index into its own
scratch tree.

The build is timed once per checkout, so its time is not part of any
run's `setup_s` (a single sample would be added to every run as a
constant); runs print it as the `fixture_build_s` info line.

    python3 perfbench/fixture.py <fixture_dir>   # the build itself
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import harness

N_DOCS = 2000
CORPUS_SEED = 20240601
#: the numeric suffix of generated tail identifiers takes 20x the doc
#: count values, so a numeric token lands in about five documents: the
#: rare-term shapes hit a real Zipf tail
TAIL_CARD = 20 * N_DOCS
NUM_BUCKETS = 8
KEYS = ["repo", "path", "commit"]
HERE = os.path.dirname(os.path.abspath(__file__))


def source_key(own: list[str]) -> str:
    """Hash of the engine's sources plus the named files of this directory."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(harness.ROOT, "solr_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(HERE, name) for name in own]
    for path in files:
        h.update(os.path.relpath(path, harness.ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def fixture_key() -> str:
    return source_key(["fixture.py", "harness.py"])


def code_key() -> str:
    """Changes with any engine or benchmark source, so records kept per
    key never mix the runs of two versions of the code."""
    return source_key(sorted(n for n in os.listdir(HERE) if n.endswith(".py")))


class Fixture:
    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "fixture.json")) as f:
            self.meta = json.load(f)
        self.index = os.path.join(root, "index")

    @property
    def build_s(self) -> float:
        """Wall time of synthesis plus build in the fixture's process."""
        return self.meta["synth_s"] + self.meta["build_s"]

    def docs(self) -> list[tuple[int, str]]:
        with open(os.path.join(self.root, "docs.json")) as f:
            return [tuple(d) for d in json.load(f)]


def ensure() -> Fixture:
    """The checkout's fixture, building it first if it is missing."""
    root = os.path.join(harness.WORK, f"fixture-{fixture_key()}")
    if not os.path.exists(os.path.join(root, "fixture.json")):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), root],
            check=True, stdout=subprocess.DEVNULL,
        )
    return Fixture(root)


def build_once(root: str) -> None:
    """The fixture's build: the index, the documents with their docids,
    the index sizes and the build times, in `root`."""
    from solr_spark.index.builder import build_index
    from solr_spark.sources.corpus import synthesize_corpus

    dirs = harness.RunDirs("fixture", 0, False)
    harness.configure_env(dirs)
    spark = harness.start_spark(dirs, "perfbench-fixture")
    try:
        t0 = time.perf_counter()
        corpus = synthesize_corpus(
            spark, N_DOCS, seed=CORPUS_SEED, tail_card=TAIL_CARD,
            partitions=harness.nproc(),
        ).persist()
        corpus.count()
        t1 = time.perf_counter()
        idx = build_index(
            spark, corpus, os.path.join(root, "index"),
            num_buckets=NUM_BUCKETS, build_positions=True,
        )
        t2 = time.perf_counter()
        docs = (
            idx.docs().select("docid", *KEYS).join(corpus, KEYS)
            .select("docid", "content").collect()
        )
        with open(os.path.join(root, "docs.json"), "w") as f:
            json.dump([(r.docid, r.content) for r in docs], f)
        p = idx.paths
        harness.write_json(os.path.join(root, "fixture.json"), {
            "n_docs": N_DOCS, "synth_s": t1 - t0, "build_s": t2 - t1,
            "bytes": {
                "postings": harness.dir_bytes(p.postings), "blocks": harness.dir_bytes(p.blocks),
                "positions": harness.dir_bytes(p.positions), "docs": harness.dir_bytes(p.docs),
                "term_stats": harness.dir_bytes(p.term_stats),
            },
            "source_bytes": sum(len(r.content.encode()) for r in docs),
            "report_n_docs": idx.build_report()["n_docs"],
        })
    finally:
        harness.stop_spark(spark)
        dirs.cleanup()


if __name__ == "__main__":
    sys.path.insert(0, harness.ROOT)
    build_once(sys.argv[1])
