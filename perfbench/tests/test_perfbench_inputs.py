"""The seeded inputs: same seed, same inputs; planted copies are real."""

import numpy as np

import datagen
import stream


def test_batch_tables_repeat_for_a_seed():
    a, b = datagen.batch_tables(7), datagen.batch_tables(7)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(datagen.batch_tables(8)["lineitem"])


def test_batch_table_shapes():
    t = datagen.batch_tables(1)
    for name, n in datagen.SIZES.items():
        assert len(t[name]) == n, name
    norms = np.linalg.norm(np.stack(t["embeddings"].embedding), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
    assert t["events"].ts.is_monotonic_increasing
    assert (t["documents"].n_chars == t["documents"].text.str.len()).all()


def test_stream_inputs_plant_exact_and_near_copies():
    corpus, files, exact, near = stream.make_inputs(3)
    corpus_texts = set(corpus.text)
    by_id = {}
    for i, f in enumerate(files):
        assert len(f) == stream.FILE_DOCS
        for did, text in zip(f.doc_id, f.text):
            by_id[did] = (i, text)
    assert len(by_id) == len(files) * stream.FILE_DOCS
    for did in exact:
        assert by_id[did][1] in corpus_texts
    assert near
    for did, src in near.items():
        (fi, text), (si, stext) = by_id[did], by_id[src]
        assert si < fi  # the source streamed in an earlier epoch
        assert text.startswith(stext + " ")
    again = stream.make_inputs(3)
    assert all(a.equals(b) for a, b in zip(files, again[1]))
