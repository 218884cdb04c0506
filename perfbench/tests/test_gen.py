"""Generator determinism: one seed, one byte stream."""

import hashlib

import numpy as np

import gen


def _digest(tables, tmp_path, tag):
    paths = gen.write_tables(tables, str(tmp_path / tag))
    return {k: hashlib.sha256(open(p, "rb").read()).hexdigest() for k, p in paths.items()}


def _tables(seed):
    return {
        "events": gen.events_table(seed, 3000),
        "documents": gen.documents_table(seed, 300),
        "embeddings": gen.embeddings_table(seed, 200),
    }


def test_same_seed_same_bytes(tmp_path):
    assert _digest(_tables(7), tmp_path, "a") == _digest(_tables(7), tmp_path, "b")


def test_other_seed_other_bytes(tmp_path):
    a, b = _digest(_tables(7), tmp_path, "a"), _digest(_tables(8), tmp_path, "b")
    assert all(a[k] != b[k] for k in a)


def test_probe_streams_are_seeded():
    v1, q1 = gen.probe_queries(3, 50)
    v2, q2 = gen.probe_queries(3, 50)
    v3, _ = gen.probe_queries(4, 50)
    assert np.array_equal(v1, v2) and q1 == q2
    assert not np.array_equal(v1, v3)


def test_fixture_schema():
    ev = gen.events_table(1, 10)
    assert ev.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    emb = gen.embeddings_table(1, 10)
    assert emb.column_names == ["vec_id", "embedding", "label"]
    norms = np.linalg.norm(np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


def test_bm25_queries_have_the_registered_query_shape():
    _, qs = gen.probe_queries(5, 40)
    for q in qs:
        words = q.split(" ")
        assert len(words) == 4 and len(set(words)) == 4
        assert set(words) <= set(gen.COMMON_WORDS)


def test_curation_tables_plant_copies_of_history(tmp_path):
    hist, delta = gen.curation_tables(9, 600, 0.05)
    again = gen.curation_tables(9, 600, 0.05)
    assert hist.equals(again[0]) and delta.equals(again[1])
    assert all(i % 3 != 0 for i in hist.column("doc_id").to_pylist())
    assert all(i % 3 == 0 for i in delta.column("doc_id").to_pylist())
    hist_texts = set(hist.column("text").to_pylist())
    exact = [t for t in delta.column("text").to_pylist() if t in hist_texts]
    assert len(exact) >= round(0.05 * delta.num_rows)
    assert delta.column("n_chars").to_pylist() == [len(t) for t in delta.column("text").to_pylist()]
