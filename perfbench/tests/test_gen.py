"""Generator determinism and the plain-Python expectations it derives."""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import fakes, gen

WORKLOADS = sorted(gen.TINY)


def _digests(inp: gen.Inputs) -> dict[str, str]:
    out = {}
    for role, path in inp.files.items():
        with open(path, "rb") as f:
            out[role] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.make_inputs(workload, 11, str(tmp_path / "a"), gen.TINY[workload])
    b = gen.make_inputs(workload, 11, str(tmp_path / "b"), gen.TINY[workload])
    assert _digests(a) == _digests(b)
    assert a.expected == b.expected and a.params == b.params
    assert a.rows > 0 and a.bytes == sum(os.path.getsize(p) for p in a.files.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_other_seed_other_bytes(tmp_path, workload):
    a = gen.make_inputs(workload, 11, str(tmp_path / "a"), gen.TINY[workload])
    b = gen.make_inputs(workload, 12, str(tmp_path / "b"), gen.TINY[workload])
    assert _digests(a) != _digests(b)


def test_planted_slugs_score_in_their_band():
    seed = 3

    def similarity(a: str, b: str) -> float:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return (1 - prev[-1] / max(len(a), len(b))) * 100

    for term in ("kortab velunis prameto", "abcde fghij lmnop", "strav bolimu tesor"):
        slug = fakes.planted_slug(seed, term)
        score = similarity(term.replace(" ", ""), slug)
        kind = fakes.slug_kind(seed, term)
        assert {"exact": score == 100, "typo": 70 <= score < 100, "foreign": score == 0}[kind]


def test_fbid_round_trips_the_term():
    link = fakes.page_link(5, "kortab velunis prameto")
    assert fakes.term_of_fbid(fakes.fbid_for(link)) == "kortab velunis prameto"


def test_corpus_plants(tmp_path):
    inp = gen.make_inputs("corpus", 4, str(tmp_path), gen.CorpusSizes(batches=3, docs_per_batch=200))
    exp = inp.expected
    assert len(exp["live_ids"]) == exp["inserted"] - exp["deleted"]
    assert not set(exp["live_ids"]) & set(exp["takedown_ids"])
    assert inp.params["near_pairs"]


def test_human_edits(tmp_path):
    sheet = tmp_path / "fb_check_upload.csv"
    titles = [f"NAME {i}" for i in range(40)]
    sheet.write_text("titre;fb_validation;main_category;main_type\n"
                     + "".join(f"{t};;;\n" for t in titles))
    edited = gen.human_edits(1, str(sheet))
    rows = gen.csv.DictReader(sheet.open(), delimiter=";")
    verdicts = {r["titre"]: r for r in rows}
    assert edited == sum(gen.decision(1, t) != "skip" for t in titles)
    for t in titles:
        v = gen.decision(1, t)
        assert (verdicts[t]["main_category"] != "") == (v == "validate")
        assert (verdicts[t]["fb_validation"] == "no") == (v == "reject")
