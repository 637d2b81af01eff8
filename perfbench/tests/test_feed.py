"""The dedup_stream feed is written file by file as a run reaches it:
any file index can be produced, and the same seed gives the same file
whatever order the files are written in. No JVM is started."""

import numpy as np
import pyarrow.parquet as pq

from workloads import DedupStream, texts


def feed(tmp_path, seed):
    wl = DedupStream.__new__(DedupStream)
    wl.seed, wl.n_corpus, wl.per_epoch = seed, 30, 20
    wl.corpus = np.random.default_rng(seed).integers(0, wl.VOCAB, (wl.n_corpus, wl.N_WORDS))
    wl.sources, wl.feed = {}, str(tmp_path)
    return wl


def read(wl, f):
    return pq.read_table(f"{wl.feed}/d{f}").to_pydict()


def test_any_file_is_seeded_and_order_free(tmp_path):
    a, b = feed(tmp_path / "a", 7), feed(tmp_path / "b", 7)
    for f in (0, 1, 5000):
        a._feed_file(f)
    for f in (5000, 1, 0):
        b._feed_file(f)
    for f in (0, 1, 5000):
        assert read(a, f) == read(b, f)
    assert a.sources == b.sources
    far = read(a, 5000)["doc_id"]
    assert far == list(range(DedupStream.FEED0 + 5000 * 20, DedupStream.FEED0 + 5001 * 20))


def test_every_fifth_doc_is_a_planted_near_duplicate(tmp_path):
    wl = feed(tmp_path, 3)
    wl._feed_file(2)
    docs = read(wl, 2)
    planted = [d for d in docs["doc_id"] if d in wl.sources]
    assert planted == docs["doc_id"][DedupStream.DUP_EVERY - 1 :: DedupStream.DUP_EVERY]
    for d, text in zip(docs["doc_id"], docs["text"]):
        if d in wl.sources:
            src = [f"w{w}" for w in wl.corpus[wl.sources[d]]]
            assert sum(x != y for x, y in zip(text.split(), src)) == 1
    corpus = set(texts(wl.corpus))
    wl._feed_file(0)
    assert not corpus & set(read(wl, 0)["text"])
    other = feed(tmp_path / "other", 4)
    other._feed_file(2)
    assert read(other, 2)["text"] != docs["text"]
