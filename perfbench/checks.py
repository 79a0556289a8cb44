"""Output checks: observed outputs (plain Python values read back from the
committed tables and hand-off files) against the generator's expectations.

Each function returns one ``(name, ok, detail)`` tuple per check. A failed
check is a failed operation of the run.
"""

from __future__ import annotations

Check = tuple[str, bool, str]


def _eq(name: str, got, want) -> Check:
    if got == want:
        return name, True, ""
    if isinstance(got, list) and isinstance(want, list):
        extra = sorted(set(got) - set(want))
        missing = sorted(set(want) - set(got))
        return name, False, (f"{len(got)} rows, want {len(want)}; unexpected "
                             f"{_short(extra)}; missing {_short(missing)}")
    return name, False, f"got {_short(got)}, want {_short(want)}"


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 200 else s[:200] + "..."


def check_assoc(obs: dict, exp: dict) -> list[Check]:
    day = exp["day"]
    return [
        _eq("assoc.search_ledger", sorted(obs["search_rows"]), [day]),
        _eq("assoc.search_rows", obs["search_rows"], {day: exp["search_rows"]}),
        _eq("assoc.similarity_ledger", sorted(obs["similarity_rows"]), [day]),
        _eq("assoc.similarity_rows", obs["similarity_rows"], {day: exp["similarity_rows"]}),
        _eq("assoc.raw_rows", obs["raw_rows"], exp["raw_rows"]),
        _eq("assoc.bands", obs["bands"], exp["bands"]),
        _eq("assoc.sentinel_rows", sorted(obs["sentinel_titles"]), exp["sentinel_titles"]),
        _eq("assoc.validation_ledger", sorted(obs["validation_days"]), [day]),
        _eq("assoc.validated", sorted(obs["validated_titles"]), exp["validated_titles"]),
        # the geocode failure is retried, so every validated row is located
        _eq("assoc.coordinates", sorted(obs["no_coordinates_titles"]), []),
    ]


def check_assoc_rerun(obs: dict, before: dict) -> list[Check]:
    """Re-running the last day commits nothing new."""
    return [
        _eq("assoc.rerun_skipped", obs["search_ran"], False),
        _eq("assoc.rerun_search_ledger", obs["search_rows"], before["search_rows"]),
        _eq("assoc.rerun_similarity_ledger", obs["similarity_rows"], before["similarity_rows"]),
        _eq("assoc.rerun_raw_rows", obs["raw_rows"], before["raw_rows"]),
    ]


def check_events(obs: dict, exp: dict) -> list[Check]:
    return [
        _eq("events.rows", obs["events_rows"], exp["events_rows"]),
        _eq("events.calendar_sample", obs["calendar_sample"], exp["calendar_sample"]),
        _eq("events.create_rows", obs["create_rows"], exp["create_rows"]),
        _eq("events.update_rows", obs["update_rows"], exp["update_rows"]),
        _eq("events.users_rows", obs["users_rows"], exp["users_rows"]),
        _eq("events.wp_users_rows", obs["users_table_rows"], exp["users_table_rows"]),
        _eq("events.wp_listings_rows", obs["listings_rows"], exp["listings_rows"]),
    ]


def check_corpus(obs: dict, exp: dict) -> list[Check]:
    live = obs["live_ids"]
    fps = obs["fingerprints"]
    dup = len(fps) - len(set(fps))
    return [
        ("corpus.unique_fingerprints", dup == 0, f"{dup} live rows share a fingerprint"),
        _eq("corpus.live_count", len(live), exp["inserted"] - exp["deleted"]),
        _eq("corpus.live_ids", sorted(live), exp["live_ids"]),
        _eq("corpus.takedowns_gone", sorted(set(live) & set(exp["takedown_ids"])), []),
    ]


def check_corpus_rerun(obs: dict, before: dict) -> list[Check]:
    """Replaying the last batch commits no new version."""
    return [
        _eq("corpus.replay_version", obs["version"], before["version"]),
        _eq("corpus.replay_live_count", len(obs["live_ids"]), len(before["live_ids"])),
    ]
