import hashlib
import os

import gen


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(base, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _drops(root: str, seed: int, n: int = 3) -> list:
    late, truths = [], []
    for i in range(n):
        truth, late = gen.write_drop(root, seed, i, gen.DropShape(files=4, rows=50), late)
        truths.append(truth)
    return truths


def test_drops_are_byte_identical_for_a_seed_and_differ_across_seeds(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ta, tb = _drops(a, 5), _drops(b, 5)
    _drops(c, 6)
    assert _digest(a) == _digest(b) != _digest(c)
    assert [t.sims for t in ta] == [t.sims for t in tb]


def test_drop_truth_matches_its_files(tmp_path):
    truths = _drops(str(tmp_path), 1, n=6)
    # after the clean first drop, every third carries a bad header;
    # late metadata of drop i lands in drop i+1
    assert [t.rejected_files for t in truths] == [0, 1, 0, 0, 1, 0]
    for i, t in enumerate(truths):
        day_dir = tmp_path / t.day
        assert len(os.listdir(day_dir)) == t.files_landed
        assert sum(os.path.getsize(day_dir / f) for f in os.listdir(day_dir)) == t.bytes_landed
        late_before = sum(s.late for s in truths[i - 1].sims.values()) if i else 0
        on_time = sum(not s.late for s in t.sims.values())
        assert t.files_landed == len(t.sims) + on_time + late_before


def test_lake_tables_are_byte_identical_for_a_seed(tmp_path):
    rows = gen.write_lake_tables(str(tmp_path / "a"), 3, 0.02)
    gen.write_lake_tables(str(tmp_path / "b"), 3, 0.02)
    gen.write_lake_tables(str(tmp_path / "c"), 4, 0.02)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert rows["orders"] == 3000 and rows["lineitem"] > rows["orders"]


def test_corpus_is_byte_identical_for_a_seed(tmp_path):
    shape = gen.CorpusShape(docs=200, eval_docs=5)
    ta = gen.write_corpus(str(tmp_path / "a"), 3, shape)
    tb = gen.write_corpus(str(tmp_path / "b"), 3, shape)
    gen.write_corpus(str(tmp_path / "c"), 4, shape)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert ta == tb


def test_corpus_plants_what_its_truth_says(tmp_path):
    import pyarrow.parquet as pq

    shape = gen.CorpusShape(docs=400, eval_docs=8)
    truth = gen.write_corpus(str(tmp_path), 5, shape)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    evals = pq.read_table(tmp_path / "eval_docs.parquet").to_pydict()
    text = dict(zip(docs["doc_id"], (t.split() for t in docs["text"])))
    assert len(text) == truth.n_docs == 400
    stages = list(truth.drops.values())
    assert stages.count("quality") == 20 and stages.count("contaminated") == 12
    # one member of each cluster is kept, and it is the longest text
    for members in truth.clusters:
        kept = [m for m in members if m not in truth.drops]
        assert len(kept) == 1
        assert all(len(" ".join(text[kept[0]])) >= len(" ".join(text[m])) for m in members)
        base = text[members[0]]
        assert all(sum(a != b for a, b in zip(base, text[m])) <= 2 for m in members)

    def grams(words):
        return {tuple(words[i : i + 4]) for i in range(len(words) - 3)}

    eval_grams = set().union(*(grams(t.split()) for t in evals["text"]))
    for d, words in text.items():
        shares = bool(grams(words) & eval_grams)
        assert shares == (truth.drops.get(d) == "contaminated")
        if truth.drops.get(d) == "quality":
            assert len(words) < 20 or len(set(words)) / len(words) < 0.3
        else:
            assert len(words) >= 20 and len(set(words)) / len(words) >= 0.3
