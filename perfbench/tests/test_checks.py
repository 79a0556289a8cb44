"""Each output check passes on the expected output and catches a
deliberately corrupted one."""

from __future__ import annotations

import copy

import pytest

from perfbench import checks, gen


@pytest.fixture(scope="module")
def assoc(tmp_path_factory):
    inp = gen.make_inputs("assoc", 2, str(tmp_path_factory.mktemp("a")), gen.TINY["assoc"])
    e = inp.expected
    obs = {
        "search_rows": {e["day"]: e["search_rows"]},
        "similarity_rows": {e["day"]: e["similarity_rows"]},
        "raw_rows": e["raw_rows"],
        "bands": dict(e["bands"]),
        "sentinel_titles": list(e["sentinel_titles"]),
        "validation_days": [e["day"]],
        "validated_titles": list(e["validated_titles"]),
        "no_coordinates_titles": [],
    }
    return e, obs


def _failed(results):
    return [name for name, ok, _ in results if not ok]


def test_assoc_clean(assoc):
    exp, obs = assoc
    assert _failed(checks.check_assoc(obs, exp)) == []


@pytest.mark.parametrize("corrupt, name", [
    (lambda o: o["search_rows"].popitem(), "assoc.search_ledger"),
    (lambda o: o["similarity_rows"].update({k: v + 1 for k, v in o["similarity_rows"].items()}),
     "assoc.similarity_rows"),
    (lambda o: o.update(raw_rows=o["raw_rows"] - 1), "assoc.raw_rows"),
    (lambda o: o["bands"].update(fb_account=o["bands"]["fb_account"] + 1), "assoc.bands"),
    (lambda o: o["sentinel_titles"].append("NOT A SENTINEL"), "assoc.sentinel_rows"),
    (lambda o: o["validated_titles"].pop(), "assoc.validated"),
    (lambda o: o["no_coordinates_titles"].append("Extra"), "assoc.coordinates"),
    (lambda o: o["validation_days"].append("2020-03-03"), "assoc.validation_ledger"),
])
def test_assoc_corrupted(assoc, corrupt, name):
    exp, obs = assoc
    bad = copy.deepcopy(obs)
    corrupt(bad)
    assert name in _failed(checks.check_assoc(bad, exp))


def test_assoc_rerun_commits_nothing(assoc):
    _, obs = assoc
    same = {"search_ran": False, **{k: copy.deepcopy(obs[k]) for k in ("search_rows", "similarity_rows", "raw_rows")}}
    assert _failed(checks.check_assoc_rerun(same, obs)) == []
    ran = dict(same, search_ran=True)
    assert _failed(checks.check_assoc_rerun(ran, obs)) == ["assoc.rerun_skipped"]
    grew = copy.deepcopy(same)
    grew["search_rows"]["2099-01-01"] = 1
    assert _failed(checks.check_assoc_rerun(grew, obs)) == ["assoc.rerun_search_ledger"]


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    inp = gen.make_inputs("events", 2, str(tmp_path_factory.mktemp("e")), gen.TINY["events"])
    e = inp.expected
    obs = {k: copy.deepcopy(e[k]) for k in ("events_rows", "calendar_sample", "create_rows",
                                             "update_rows", "users_rows", "users_table_rows",
                                             "listings_rows")}
    return e, obs


def test_events_clean(events):
    exp, obs = events
    assert _failed(checks.check_events(obs, exp)) == []


@pytest.mark.parametrize("key, name", [
    ("events_rows", "events.rows"), ("create_rows", "events.create_rows"),
    ("update_rows", "events.update_rows"), ("users_rows", "events.users_rows"),
])
def test_events_counts_corrupted(events, key, name):
    exp, obs = events
    bad = dict(obs, **{key: obs[key] + 1})
    assert _failed(checks.check_events(bad, exp)) == [name]


def test_events_calendar_corrupted(events):
    exp, obs = events
    bad = copy.deepcopy(obs)
    title = sorted(bad["calendar_sample"])[0]
    bad["calendar_sample"][title] = bad["calendar_sample"][title].replace("|1-01-2019", "", 1) + "|"
    assert _failed(checks.check_events(bad, exp)) == ["events.calendar_sample"]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    inp = gen.make_inputs("corpus", 2, str(tmp_path_factory.mktemp("c")), gen.TINY["corpus"])
    e = inp.expected
    obs = {"live_ids": list(e["live_ids"]), "fingerprints": [f"fp{i}" for i in e["live_ids"]],
           "version": 7}
    return e, obs


def test_corpus_clean(corpus):
    exp, obs = corpus
    assert _failed(checks.check_corpus(obs, exp)) == []


def test_corpus_duplicate_fingerprint(corpus):
    exp, obs = corpus
    bad = copy.deepcopy(obs)
    bad["fingerprints"][1] = bad["fingerprints"][0]
    assert _failed(checks.check_corpus(bad, exp)) == ["corpus.unique_fingerprints"]


def test_corpus_takedown_survives(corpus):
    exp, obs = corpus
    assert exp["takedown_ids"]
    bad = copy.deepcopy(obs)
    bad["live_ids"][0] = exp["takedown_ids"][0]
    failed = _failed(checks.check_corpus(bad, exp))
    assert "corpus.takedowns_gone" in failed and "corpus.live_ids" in failed


def test_corpus_missing_row(corpus):
    exp, obs = corpus
    bad = copy.deepcopy(obs)
    bad["live_ids"].pop()
    bad["fingerprints"].pop()
    assert _failed(checks.check_corpus(bad, exp)) == ["corpus.live_count", "corpus.live_ids"]


def test_corpus_replay_new_version(corpus):
    _, obs = corpus
    assert _failed(checks.check_corpus_rerun(dict(obs), obs)) == []
    assert _failed(checks.check_corpus_rerun(dict(obs, version=8), obs)) == ["corpus.replay_version"]
