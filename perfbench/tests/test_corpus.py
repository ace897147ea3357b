"""The seeded generator: a seed fixes the content, table sizes never move."""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402


def test_same_seed_same_content():
    a, b = corpus.build_tables(7), corpus.build_tables(7)
    assert list(a) == list(corpus.TABLES)
    for name in corpus.TABLES:
        assert a[name].equals(b[name]), name


def test_other_seed_same_rows_other_content():
    a, b = corpus.build_tables(7), corpus.build_tables(8)
    for name in corpus.TABLES:
        assert a[name].num_rows == b[name].num_rows, name
        assert a[name].schema == b[name].schema, name
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(b[name]), name


def test_sizes_and_id_domains():
    t = corpus.build_tables(3)
    assert {k: t[k].num_rows for k in corpus.ROWS} == corpus.ROWS
    docs = t["documents"].to_pydict()
    assert docs["doc_id"] == list(range(corpus.ROWS["documents"]))
    assert t["events"].column("event_id").to_pylist() == list(range(corpus.ROWS["events"]))
    # the near-duplicate share the curation lanes rely on
    dups = sum(text.endswith(" dup") for text in docs["text"])
    assert dups == int(corpus.ROWS["documents"] * 0.05)
    assert docs["n_chars"] == [len(x) for x in docs["text"]]


def test_manifest_records_rows_and_bytes(tmp_path):
    m = corpus.write_corpus(str(tmp_path), 5)
    assert m["seed"] == 5
    for name in corpus.TABLES:
        entry = m["tables"][name]
        assert entry["bytes"] == os.path.getsize(tmp_path / f"{name}.parquet")
        assert entry["rows"] > 0


def test_reproduces_the_reference_statistics():
    """The constants the module docstring says were measured on the
    reference corpus come out of the generator."""
    t = corpus.build_tables(11)
    docs = t["documents"].to_pydict()
    langs = np.array(docs["lang"])
    for lang, p in zip(corpus._LANGS, corpus._LANG_P):
        assert abs((langs == lang).mean() - p) < 0.02, lang
    originals = [x.split() for x in docs["text"] if not x.endswith(" dup")]
    assert min(map(len, originals)) == 10 and max(map(len, originals)) == 99
    assert {w for x in originals for w in x} == set(corpus._WORDS)
    assert len(corpus._WORDS) == 30
    ts = t["events"].column("ts").cast("int64").to_numpy()
    assert abs(np.diff(ts).mean() / 1e9 - 25.9) < 0.5
    assert set(t["events"].column("user_id").to_pylist()) == set(range(1500))
