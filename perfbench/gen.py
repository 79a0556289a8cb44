"""Seeded input generator and plain-Python expectations.

``make_inputs(chain, seed, out_dir, sizes)`` writes every input file a
pipeline chain reads and returns an ``Inputs`` record: file paths, input row and
byte counts, the fake-service failure sets, and the expected outputs. The
same seed gives byte-identical files. Nothing here imports ``wopen_spark``:
the expectations are computed without the code under test.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

from perfbench import fakes
from perfbench.fakes import NAME_ALPHABET, unit

# ----------------------------------------------------------------- sizes


@dataclass(frozen=True)
class AssocSizes:
    keywords_per_day: int = 100  # every wanted name is searched on the day
    register_rows: int = 20_000  # 200 register rows per searched keyword
    # FBID_ALWAYS and GEOCODE_ONCE inputs fail; off for the warm-up inputs,
    # whose retry backoff would only add sleeps to the set-up
    failures: bool = True


# The one associations day a run processes. A second day would reach the
# CsvSheetStore defect described in perfbench/README.md.
ASSOC_DAY = "2020-03-02"
# One fbid input always fails (sentinel) and one geocode input fails once
# (retried). The geocode sentinel '' makes validation_retreatment raise (it
# indexes split(coordinates, ',')[1] under ANSI mode), so no geocode input
# fails always until that is fixed; see perfbench/README.md.
FBID_ALWAYS = 1
GEOCODE_ONCE = 1


@dataclass(frozen=True)
class EventsSizes:
    events: int = 2_000
    users: int = 500
    listings: int = 500


@dataclass(frozen=True)
class CorpusSizes:
    batches: int = 2
    docs_per_batch: int = 1_000
    words_per_doc: int = 60
    takedown_frac: float = 0.02


SIZES = {"assoc": AssocSizes(), "events": EventsSizes(), "corpus": CorpusSizes()}
# warm-up inputs: a few dozen rows
TINY = {"assoc": AssocSizes(keywords_per_day=10, register_rows=100, failures=False),
        "events": EventsSizes(events=20, users=10, listings=10),
        "corpus": CorpusSizes(batches=2, docs_per_batch=30)}


@dataclass
class Inputs:
    chain: str
    seed: int
    files: dict[str, str]  # role -> path
    rows: int  # input rows the workload processes (register rows, events, documents)
    bytes: int  # bytes of every generated input file
    params: dict = field(default_factory=dict)  # dates, failure sets, ...
    expected: dict = field(default_factory=dict)


def _write(path: str, data: bytes) -> str:
    with open(path, "wb") as f:
        f.write(data)
    return path


def _csv_bytes(header: list[str], rows: list[list], encoding: str = "utf-8") -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=";", lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode(encoding)


def _exact(rng: random.Random, n: int, share: float) -> list[bool]:
    """n flags, exactly round(n * share) of them set, in seeded order."""
    k = round(n * share)
    out = [True] * k + [False] * (n - k)
    rng.shuffle(out)
    return out


def _spread(rng: random.Random, n: int, values: list) -> list:
    """n values cycling through ``values``, in seeded order."""
    out = [values[i % len(values)] for i in range(n)]
    rng.shuffle(out)
    return out


def _word(rng: random.Random, lo: int = 5, hi: int = 8) -> str:
    return "".join(rng.choice(NAME_ALPHABET) for _ in range(rng.randint(lo, hi)))


def make_inputs(chain: str, seed: int, out_dir: str, sizes=None) -> Inputs:
    os.makedirs(out_dir, exist_ok=True)
    sizes = sizes or SIZES[chain]
    maker = {"assoc": _assoc, "events": _events, "corpus": _corpus}
    inp = maker[chain](seed, out_dir, sizes)
    inp.bytes = sum(os.path.getsize(p) for p in inp.files.values())
    return inp


# ------------------------------------------------------------------ assoc

# the pipeline's column list (wopen_spark.pipelines.associations.RNA_COLUMNS),
# repeated here so the generator stays independent of the code under test
RNA_COLUMNS = [
    "id", "id_ex", "siret", "rup_mi", "gestion", "date_creat", "date_decla",
    "date_publi", "date_disso", "nature", "groupement", "titre",
    "titre_court", "objet", "objet_social1", "objet_social2",
    "adrs_complement", "adrs_numvoie", "adrs_repetition", "adrs_typevoie",
    "adrs_libvoie", "adrs_distrib", "adrs_codeinsee", "adrs_codepostal",
    "adrs_libcommune", "adrg_declarant", "adrg_complemid",
    "adrg_complemgeo", "adrg_libvoie", "adrg_distrib", "adrg_codepostal",
    "adrg_achemine", "adrg_pays", "dir_civilite", "siteweb", "publiweb",
    "observation", "position", "maj_time",
]
# social-object labels the pipeline selects (its SOCIAL_CATEGORIES minus the
# entry with a literal backslash, which clean data never matches)
WANTED_LABELS = [
    "théâtre, marionnettes, cirque, spectacles de variété ",
    "chant choral, musique ",
    "Sports, activités de plein air ",
    "photographie, cinéma (dont ciné-clubs) ",
    "relaxation, sophrologie",
    "arts graphiques, bande dessinée, peinture, sculpture, architecture ",
    "danse ",
]
OTHER_LABELS = ["défense des droits", "éducation, formation", "santé", "logement",
                "environnement", "amicales, groupements affinitaires"]


def decision(seed: int, title: str) -> str:
    """The simulated human's verdict on a sheet row (a function of the title
    only, so a skipped row is skipped again every day)."""
    u = unit(seed, "decide", title)
    return "validate" if u < 0.45 else "reject" if u < 0.65 else "skip"


def _assoc(seed: int, out: str, s: AssocSizes) -> Inputs:
    rng = random.Random(f"assoc:{seed}")
    wanted_n = s.keywords_per_day
    if s.register_rows < 2 * wanted_n:
        raise ValueError("register_rows must be at least twice keywords_per_day")
    nomenclature = [(f"{15000 + i:06d}", lbl) for i, lbl in enumerate(WANTED_LABELS)]
    nomenclature += [(f"{99000 + i:06d}", lbl) for i, lbl in enumerate(OTHER_LABELS)]
    wanted_codes = [c for c, _ in nomenclature[: len(WANTED_LABELS)]]
    other_codes = [c for c, _ in nomenclature[len(WANTED_LABELS) :]]

    titles: set[str] = set()
    rows, wanted = [], []
    for i in range(s.register_rows):
        while True:
            t = " ".join(_word(rng) for _ in range(3)).upper()
            if t not in titles:
                titles.add(t)
                break
        # the first wanted_n rows are the Paris rows of a wanted category;
        # the rest miss the Paris filter, the category filter, or both
        if i < wanted_n:
            paris, code = True, rng.choice(wanted_codes)
        else:
            paris = rng.random() < 0.4
            code = rng.choice(other_codes if paris or rng.random() < 0.5 else wanted_codes)
        arr = rng.randint(1, 20)
        cp = f"750{arr:02d}" if paris else f"{rng.choice([92, 93, 94, 69, 13])}{rng.randint(100, 999)}"
        # a few Paris rows carry an address postcode outside the 20
        # arrondissements: validation drops them
        adrs_cp = cp if not paris or rng.random() > 0.05 else "75116"
        street = f"RUE {_word(rng, 6, 9).upper()} {_word(rng, 4, 6).upper()}"
        v = dict.fromkeys(RNA_COLUMNS, "")
        v.update(
            id=f"W75{1000000 + i:07d}", id_ex=str(100000 + i), siret="",
            rup_mi="", gestion="751P", date_creat=f"20{rng.randint(0, 19):02d}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}",
            date_decla="2019-06-01", date_publi="2019-06-15", nature="D",
            groupement="S", titre=t, titre_court=t.split()[0],
            objet=f"promouvoir {_word(rng).lower()} et {_word(rng).lower()} aupres du public",
            objet_social1=code, objet_social2="", adrs_numvoie=str(rng.randint(1, 120)),
            adrs_typevoie="RUE", adrs_libvoie=street[4:], adrs_codepostal=adrs_cp,
            adrs_libcommune="PARIS" if paris else "BANLIEUE", adrg_libvoie=street,
            adrg_codepostal=cp, adrg_achemine="PARIS" if paris else "VILLE",
            adrg_pays="FRANCE", position="A", maj_time="2020-03-01 10:00:00",
        )
        rows.append([v[c] for c in RNA_COLUMNS])
        if i < wanted_n:
            wanted.append((t, f"{street}, {cp}, Paris".title(), adrs_cp))

    # two zip members, as the register ships several CSVs
    half = len(rows) // 2
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, part in (("rna_waldec_1.csv", rows[:half]), ("rna_waldec_2.csv", rows[half:])):
            info = zipfile.ZipInfo(name, date_time=(2020, 3, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, _csv_bytes(RNA_COLUMNS, part, "ISO-8859-1"))
    files = {"rna_zip": _write(os.path.join(out, "rna_waldec.zip"), buf.getvalue())}

    # fake-service failure sets over the inputs each service will see
    terms = [t.lower() for t, _, _ in wanted]
    fbid_always = rng.sample(terms, FBID_ALWAYS if s.failures else 0)
    # the geocoder sees the sheet's title-cased "street, postcode, Paris"
    address = {t: addr for t, addr, _ in wanted}
    validating = sorted(t for t, _, _ in wanted if decision(seed, t) == "validate")

    def bands_for(term: str) -> str:
        if term in fbid_always:  # sentinel '0' -> the raw link's slug is the name
            return "fb_account"
        return {"exact": "fb_account", "typo": "potential_fb_account",
                "foreign": "no_fb_account"}[fakes.slug_kind(seed, term)]

    band = {t: bands_for(t.lower()) for t, _, _ in wanted}
    # manual sheet edits: additions are names the matcher rejected, removals
    # are names the human validates (so the removal is what drops them)
    none_names = sorted(t for t in band if band[t] == "no_fb_account" and decision(seed, t) == "validate")
    to_add = rng.sample(none_names, min(len(none_names), 1 + len(none_names) // 20))
    fb_validating = sorted(t for t in validating if band[t] != "no_fb_account")
    to_remove = rng.sample(fb_validating, min(len(fb_validating), 1 + len(fb_validating) // 40))
    files["assos_to_add"] = _write(os.path.join(out, "assos_to_add.csv"),
                                   _csv_bytes(["titre", "note"], [[t, "ajout manuel"] for t in to_add]))
    files["assos_to_remove"] = _write(os.path.join(out, "assos_to_remove.csv"),
                                      _csv_bytes(["titre", "note"], [[t, "retrait"] for t in to_remove]))

    # the geocoder sees every validated row of the sheet
    geocoded = sorted(t for t in validating if band[t] != "no_fb_account" or t in to_add)
    geo_once = [address[t] for t in
                rng.sample(geocoded, min(len(geocoded), GEOCODE_ONCE if s.failures else 0))]
    postcode = {t: cp for t, _, cp in wanted}
    arrondissements = {f"750{i:02d}" for i in range(1, 21)}
    final = sorted(
        t.title() for t in band
        if (band[t] != "no_fb_account" or t in to_add)
        and decision(seed, t) == "validate"
        and postcode[t] in arrondissements
        and t not in to_remove
    )
    counts = {b: sum(1 for v in band.values() if v == b)
              for b in ("fb_account", "potential_fb_account", "no_fb_account")}
    return Inputs(
        chain="assoc", seed=seed, files=files, rows=s.register_rows, bytes=0,
        params={
            "day": ASSOC_DAY, "keywords_per_day": s.keywords_per_day,
            "nomenclature": nomenclature,
            "fbid_always": sorted(fakes.page_link(seed, t) for t in fbid_always),
            "geocode_once": sorted(geo_once),
        },
        expected={
            "day": ASSOC_DAY,
            "search_rows": 3 * s.keywords_per_day,
            "similarity_rows": s.keywords_per_day,
            "raw_rows": len(wanted),
            "bands": counts,
            "sentinel_titles": sorted(t.upper() for t in fbid_always),
            "validated_titles": final,
        },
    )


def human_edits(seed: int, sheet_path: str) -> int:
    """Apply the simulated human's verdicts to the check sheet in place
    (validate: fill main category and type; reject: fb_validation 'no';
    skip: leave the row). Returns the number of rows edited."""
    with open(sheet_path, newline="", encoding="utf-8") as f:
        reader = csv.DictReader(f, delimiter=";")
        header = reader.fieldnames
        rows = list(reader)
    edited = 0
    for r in rows:
        verdict = decision(seed, r["titre"])
        if verdict == "validate":
            r["main_category"], r["main_type"] = "Culture", "Association"
        elif verdict == "reject":
            r["fb_validation"] = "no"
        edited += verdict != "skip"
    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=header, delimiter=";", lineterminator="\n")
    w.writeheader()
    w.writerows(rows)
    with open(sheet_path, "w", encoding="utf-8") as f:
        f.write(buf.getvalue())
    return edited


# ----------------------------------------------------------------- events

EVENT_HEADER = [
    "Titre", "Occurrences", "Description", "Coordonnées géographiques",
    "Date de début", "Date de fin", "Ville", "Code postal", "Adresse du lieu",
    "Catégorie", "Type de prix",
]
# categories the pipeline imports, and some it does not
IMPORTED = ["Concerts -> Rock", "Spectacles -> Théâtre", "Concerts -> Jazz",
            "Expositions -> Art Contemporain", "Spectacles -> Danse",
            "Spectacles -> Jeune public", "Concerts -> Classique"]
NOT_IMPORTED = ["Animations -> Atelier", "Autre -> Chose", "Expositions -> Photographie"]
CAL_START, CAL_END = dt.date(2019, 1, 1), dt.date(2022, 1, 1)
EVENTS_TODAY = "2019-06-01"
LISTING_HEADER = ["Author ID", "Title", "Categories", "_listing_type", "product_id",
                  "_dates_event_user", "Content", "_wp_import", "_address",
                  "_friendly_address", "Image Featured", "Image URL",
                  "_gallery_unserialized", "Features"]


def calendar_string(dates: set[dt.date]) -> str:
    """availability = fixed 1,097-day window minus the event's dates."""
    out, d = [], CAL_START
    while d <= CAL_END:
        if d not in dates:
            out.append(f"{d.day}-{d.month:02d}-{d.year}")
        d += dt.timedelta(days=1)
    return "|".join(out)


def _events(seed: int, out: str, s: EventsSizes) -> Inputs:
    rng = random.Random(f"events:{seed}")
    today = dt.date.fromisoformat(EVENTS_TODAY)
    rows, kept, occ_dates = [], [], {}
    to_create = []
    # exact shares, so every seed does the same amount of work: 3 % without
    # occurrences, 4 % already past, 80 % in Paris, 70 % in an imported
    # category, prices 1:2:1 free/paid/other, 1 to 6 occurrences evenly
    n = s.events
    empty, past, paris_, imported = (_exact(rng, n, f) for f in (0.03, 0.04, 0.8, 0.7))
    prices = _spread(rng, n, ["gratuit", "payant", "payant", "autre"])
    n_occs = _spread(rng, n, [1, 2, 3, 4, 5, 6])
    for i in range(n):
        title = f"{_word(rng).capitalize()} {_word(rng)} {i}"
        n_occ = n_occs[i]
        begin = today + dt.timedelta(days=-rng.randint(1, 40) if past[i] else rng.randint(0, 900))
        days = sorted({begin + dt.timedelta(days=rng.randint(0, 20)) for _ in range(n_occ)} | {begin})
        occ = "" if empty[i] else ";".join(f"{d.isoformat()}T20:00:00+02:00" for d in days)
        end = days[-1]
        paris = paris_[i]
        cp = f"750{rng.randint(1, 20):02d}" if paris else f"93{rng.randint(100, 999)}"
        cat = rng.choice(IMPORTED) if imported[i] else rng.choice(NOT_IMPORTED)
        price = prices[i]
        desc = f"{_word(rng)} {_word(rng)} {_word(rng)}"
        if rng.random() < 0.2:
            desc += (" <div class='component-video'><iframe src=https://www.youtube.com/"
                     f"embed/{_word(rng)}?feature=oembed></iframe></div></div>")
        rows.append([
            title, occ, desc, f"48.{rng.randint(800000, 899999)},2.{rng.randint(250000, 410000)}",
            f"{begin.isoformat()}T20:00:00+02:00", f"{end.isoformat()}T23:00:00+02:00",
            "Paris" if paris else "Pantin", cp, f"{rng.randint(1, 99)} rue {_word(rng)}",
            cat, price,
        ])
        if occ and begin >= today:
            kept.append(title)
            occ_dates[title] = set(days)
            if paris and cat in IMPORTED and price in ("gratuit", "payant"):
                to_create.append(title)
    files = {"events_csv": _write(os.path.join(out, "events.csv"), _csv_bytes(EVENT_HEADER, rows))}

    users = [[str(1000 + i), f"user_{_word(rng)}", f"{_word(rng)}@mail.example"] for i in range(s.users)]
    files["users_csv"] = _write(os.path.join(out, "wp_users.csv"),
                                _csv_bytes(["id", "user_name", "user_email"], users))
    listings = []
    create_set = set(to_create)
    for i in range(s.listings):
        is_event = rng.random() < 0.7
        # half of the event listings name a kept event, the rest are stale
        title = rng.choice(kept) if is_event and kept and rng.random() < 0.5 else f"Listing {_word(rng)} {i}"
        wp_import = rng.choice(["yes", "no", "yes/no no"])
        d0 = dt.date(2021, rng.randint(1, 12), rng.randint(1, 28))
        dates = " , ".join((d0 + dt.timedelta(days=k)).strftime("%d/%m/%Y") for k in range(rng.randint(1, 3)))
        listings.append([
            str(1000 + rng.randrange(s.users)), title, rng.choice(["Musique", "", "Sport"]),
            "event" if is_event else "service", str(5000 + i), dates,
            f"{_word(rng)} {_word(rng)}", wp_import,
            f"{rng.randint(1, 99)} Rue {_word(rng)}, Paris, Île-de-France, France métropolitaine, France",
            "", "feat.png", f"https://cdn.example/img/{i}-{_word(rng)}.jpg",
            f"https://storage.example/{i}-{_word(rng)}.png", "wifi",
        ])
    # update_events flags a listing by substring: 'no' -> user feed, else
    # 'yes' -> update feed; several listings may name one event, and the
    # update feed joins every one of them
    events_listed = [r for r in listings if r[3] == "event"]
    users_n = sum("no" in r[7] for r in events_listed)
    update_n = sum("no" not in r[7] and "yes" in r[7] and r[1] in create_set for r in events_listed)
    files["listings_csv"] = _write(os.path.join(out, "wp_listings.csv"),
                                   _csv_bytes(LISTING_HEADER, listings))
    sample = sorted(rng.sample(kept, min(5, len(kept))))
    return Inputs(
        chain="events", seed=seed, files=files, rows=s.events, bytes=0,
        params={"today": EVENTS_TODAY},
        expected={
            "events_rows": len(kept),
            "calendar_sample": {t: calendar_string(occ_dates[t]) for t in sample},
            "create_rows": len(to_create),
            "update_rows": update_n,
            "users_rows": users_n,
            "users_table_rows": s.users,
            "listings_rows": s.listings,
        },
    )


# ----------------------------------------------------------------- corpus


def _corpus(seed: int, out: str, s: CorpusSizes) -> Inputs:
    rng = random.Random(f"corpus:{seed}")
    vocab = sorted({_word(rng, 3, 9) for _ in range(4000)})
    files: dict[str, str] = {}
    texts: dict[int, str] = {}
    live: list[int] = []  # base documents expected in the table
    takedowns: list[list[int]] = []
    near_pairs: list[tuple[int, int]] = []
    copies = 0
    next_id = 1
    for b in range(s.batches):
        docs, batch_base = [], []
        # sources for copies of earlier batches: reserved documents, which
        # takedowns never touch (a copy of a deleted row would be new again)
        reserved = [d for d in live if _reserved(seed, d)]
        for _ in range(s.docs_per_batch):
            u = rng.random()
            if u < 0.1 and batch_base:  # one-word near-duplicate within the batch
                src = rng.choice(batch_base)
                words = texts[src].split()
                j = rng.randrange(len(words))
                words[j] = rng.choice([w for w in vocab[:50] if w != words[j]])
                text = " ".join(words)
                near_pairs.append((src, next_id))
            elif u < 0.2 and batch_base:  # exact copy, of this or an earlier batch
                pool = reserved if reserved and rng.random() < 0.5 else batch_base
                text = texts[rng.choice(pool)]
                copies += 1
            else:
                text = " ".join(rng.choice(vocab) for _ in range(s.words_per_doc))
                batch_base.append(next_id)
            texts[next_id] = text
            docs.append({"doc_id": next_id, "url": f"https://corpus.example/{b}/{next_id}",
                         "text": text, "batch": b})
            next_id += 1
        pool = [d for d in live if not _reserved(seed, d)]
        k = min(len(pool), max(1, int(len(live) * s.takedown_frac))) if live else 0
        td = sorted(rng.sample(pool, k))
        takedowns.append(td)
        gone = set(td)
        live = [d for d in live if d not in gone] + batch_base
        body = "".join(json.dumps(d, sort_keys=True) + "\n" for d in docs)
        files[f"batch_{b}"] = _write(os.path.join(out, f"batch_{b:02d}.jsonl"), body.encode())
    return Inputs(
        chain="corpus", seed=seed, files=files,
        rows=s.batches * s.docs_per_batch, bytes=0,
        params={"batches": s.batches, "takedowns": takedowns, "near_pairs": near_pairs},
        expected={
            "live_ids": sorted(live),
            "inserted": len(texts) - len(near_pairs) - copies,
            "deleted": sum(len(t) for t in takedowns),
            "takedown_ids": sorted(i for t in takedowns for i in t),
        },
    )


def _reserved(seed: int, doc_id: int) -> bool:
    return unit(seed, "copy-source", str(doc_id)) < 0.5
