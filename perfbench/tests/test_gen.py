import numpy as np

from perfbench import gen


def test_generators_are_functions_of_the_seed():
    for make in (
        lambda s: gen.events(s, n_rows=2000, n_users=200),
        lambda s: gen.series(s, n_rows=200),
        lambda s: gen.token_corpus(s, n_rows=300),
        lambda s: gen.stream_batches(s, n_batches=3, batch_size=20),
    ):
        assert make(5).digest() == make(5).digest()
        assert make(5).digest() != make(6).digest()


def test_events_plant_heavy_users_above_two_percent():
    g = gen.events(3, n_rows=20_000, n_users=500)
    assert g.truth["heavy_users"] == ["u000000", "u000001", "u000002"]
    ev = g.tables["events"]
    assert not ev.duplicated(["user_id", "ts"]).any()


def test_token_corpus_truth_matches_rows():
    g = gen.token_corpus(4, n_rows=500)
    t, tok = g.truth, g.tables["tokens"]
    assert len(tok) == t["n_input"]
    assert (tok["n_tok"] < 8).sum() == t["n_short"]
    assert tok["tokens"].map(lambda a: a.tobytes()).duplicated().sum() == t["n_exact"]


def test_chunk_count_follows_the_chunking_rule():
    # max_len 48, overlap 8 -> starts every 40 tokens
    assert gen.chunk_count(np.array([48]), 48, 8, 8) == (1, 48)  # [40,48) adds no new token
    assert gen.chunk_count(np.array([49]), 48, 8, 8) == (2, 57)  # [0,48) + [40,49)
    assert gen.chunk_count(np.array([45]), 48, 8, 8) == (1, 45)  # tail of 5 < min_tail
    assert gen.chunk_count(np.array([100]), 48, 8, 8) == (3, 48 + 48 + 20)
    assert gen.chunk_count(np.array([5]), 48, 8, 8) == (1, 5)  # a lone chunk always stays


def test_stream_batches_plant_cross_batch_copies_of_earlier_docs():
    g = gen.stream_batches(2, n_batches=3, batch_size=30)
    seen = set()
    for b, t in enumerate(g.truth["batches"]):
        df = g.tables[f"batch_{b:03d}"].set_index("doc_id")
        for i in t["cross_ids"]:
            assert df.loc[i, "text"] in seen
        seen |= set(df["text"])
