"""The workloads and the pipeline chains they run. One ``Run.run()`` is one
complete batch on fresh directories: every stage, the downstream reads, the
output checks and the re-run of the last day or batch.

Every call into the program goes through ``Run.call`` (one operation, one
span in the traced run). Reads are timed one by one. Nothing here edits a
program file; the traced run's extra spans come from ``install_wrappers``.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import statistics
import time

from perfbench import checks, gen
from perfbench.fakes import Counters, SearchService, Service
from perfbench.trace import Tracer

LATENCY_S = 0.003  # simulated round trip of every fake service call
READS_PER_RUN = 10  # downstream reads issued by one run
RERUNS = 3  # re-runs of the last day or batch per run; rerun_s is their median


class Run:
    """One complete run of a workload's chains (one chain per entry of
    ``inputs``, in order): their stages, the downstream reads, the output
    checks and the re-run, with the bookkeeping they share (operations
    attempted and failed, read latencies)."""

    def __init__(self, spark, workload: str, inputs: dict[str, gen.Inputs], root: str,
                 tracer: Tracer, counters_dir: str | None = None):
        self.spark, self.workload, self.root, self.tr = spark, workload, root, tracer
        self.wh = os.path.join(root, "warehouse")
        self.handoff = os.path.join(root, "handoff")
        for d in (self.wh, self.handoff):
            os.makedirs(d, exist_ok=True)
        self.counters_dir = counters_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.read_s: list[float] = []
        self.read_no = 0
        self.run_s = self.rerun_s = 0.0
        self.chains = [CHAINS[name](self, inp) for name, inp in inputs.items()]

    # ------------------------------------------------------------ helpers

    def counters(self, name: str) -> str | None:
        if self.counters_dir is None:
            return None
        c = Counters(os.path.join(self.counters_dir, f"{name}.bin"))
        c.reset()
        return c.path

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        self.attempted += 1
        with self.tr.span(name, layer):
            try:
                return fn(*args, **kwargs)
            except Exception as e:
                self.failed += 1
                self.failures.append(f"{name}: {type(e).__name__}: {e}")
                raise

    def check(self, results: list[checks.Check]) -> None:
        for name, ok, detail in results:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{name}: {detail}")

    def opener(self, files: dict[str, str]):
        """Source opener over generated files; URLs name the file role."""
        tr = self.tr

        def open_url(url: str) -> bytes:
            with open(files[url.rsplit("/", 1)[-1]], "rb") as f:
                data = f.read()
            tr.count("sources.http.bytes", len(data))
            return data

        return open_url

    def read(self, mix=None) -> None:
        """One downstream read, chosen round-robin from the mix (default:
        every chain's reads)."""
        mix = mix or [r for c in self.chains for r in c.read_mix()]
        name, fn = mix[self.read_no % len(mix)]
        k = self.read_no // len(mix)
        self.read_no += 1
        t0 = time.perf_counter()
        self.call(f"bench.read.{name}", "bench", fn, k)
        self.read_s.append(time.perf_counter() - t0)

    def run(self, reruns: int = RERUNS) -> "Run":
        t0 = time.perf_counter()
        with self.tr.span(f"bench.run.{self.workload}", "bench"):
            for c in self.chains:
                c.stages()
            for _ in range(READS_PER_RUN):
                self.read()
            with self.tr.span("bench.check", "bench"):
                for c in self.chains:
                    c.before = c.observe()
                    self.check(c.expected_checks(c.before))
            times = []
            with self.tr.span("bench.rerun", "bench"):
                for _ in range(reruns):
                    t1 = time.perf_counter()
                    for c in self.chains:
                        c.rerun()
                    times.append(time.perf_counter() - t1)
                after = [c.observe_rerun() for c in self.chains]
            self.rerun_s = statistics.median(times)
            for c, obs in zip(self.chains, after):
                self.check(c.rerun_checks(obs))
        self.run_s = time.perf_counter() - t0
        return self

    def isolate(self) -> dict:
        out = {}
        for c in self.chains:
            out.update(c.isolate())
        return out

    def stored_bytes(self) -> int:
        from perfbench.probe import dir_bytes

        return dir_bytes(self.wh, self.handoff, os.path.join(self.root, "sheets"))

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class Chain:
    """One pipeline chain of a workload, on its own generated inputs. Its
    calls, checks and reads are booked on the ``Run``."""

    def __init__(self, run: Run, inputs: gen.Inputs):
        self.run, self.inp = run, inputs
        self.spark, self.tr, self.root = run.spark, run.tr, run.root
        self.wh, self.handoff = run.wh, run.handoff
        self.call, self.check, self.opener, self.counters = (
            run.call, run.check, run.opener, run.counters)

    def read(self) -> None:
        self.run.read(self.read_mix())

    # a chain without an idempotence gate has no re-run
    def rerun(self) -> None:
        pass

    def observe_rerun(self) -> dict:
        return {}

    def rerun_checks(self, obs) -> list[checks.Check]:
        return []


def _csv_rows(path: str) -> list[dict]:
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f, delimiter=";"))


# ------------------------------------------------------------------ assoc


class AssocChain(Chain):
    def stages(self) -> None:
        from wopen_spark.pipelines import (
            CsvSheetStore,
            ValidationConfig,
            assos_to_sheet,
            validation,
            validation_retreatment,
        )

        p, seed = self.inp.params, self.inp.seed
        self.search = SearchService(seed, LATENCY_S, self.counters("search"))
        self.fbid = Service("fbid", seed, LATENCY_S, frozenset(p["fbid_always"]),
                            counters=self.counters("fbid"))
        self.redirect = Service("redirect", seed, LATENCY_S, counters=self.counters("redirect"))
        self.geocode = Service("geocode", seed, LATENCY_S, fail_once=frozenset(p["geocode_once"]),
                               counters=self.counters("geocode"))
        sheets_dir = os.path.join(self.root, "sheets")
        os.makedirs(sheets_dir, exist_ok=True)
        self.sheets = CsvSheetStore(self.spark, sheets_dir)
        for wks in ("assos_to_add", "assos_to_remove"):
            shutil.copy(self.inp.files[wks], os.path.join(sheets_dir, f"{wks}.csv"))
        self.nomenclature = self.spark.createDataFrame(
            p["nomenclature"], ["Code Objet Social", "Objet Social"])
        self.out_csv = os.path.join(self.handoff, "assos_validated.csv")
        # the validation table exists before the first day, as in production
        schema = os.path.join(os.path.dirname(validation.__file__), "schemas",
                              "associations_validation.json")
        self.call("tables.create_partitioned", "tables",
                  self.table("associations_validation").create_partitioned, schema, "date_upload")
        self.day()
        vcfg = ValidationConfig(today=p["day"])
        self.call("pipelines.validation.assos_to_sheet", "pipelines",
                  assos_to_sheet, self.spark, self.wh, self.sheets, vcfg)
        with self.tr.span("bench.human_edits", "bench"):
            gen.human_edits(seed, os.path.join(sheets_dir, "fb_check_upload.csv"))
        self.call("pipelines.validation.validation_retreatment", "pipelines",
                  validation_retreatment, self.spark, self.wh, self.sheets,
                  self.geocode, self.out_csv, vcfg)

    def day(self) -> bool:
        """The associations day's search and similarity stages; False when
        the search stage found the day already committed."""
        from wopen_spark.pipelines import AssociationsConfig, custom_search_stage, similarity_stage

        p = self.inp.params
        cfg = AssociationsConfig(keywords_nb=p["keywords_per_day"], today=p["day"])
        ran = self.call("pipelines.associations.custom_search_stage", "pipelines",
                        custom_search_stage, self.spark, "https://rna.example/rna_zip",
                        self.nomenclature, self.wh, self.search, cfg,
                        opener=self.opener(self.inp.files))
        self.call("pipelines.associations.similarity_stage", "pipelines",
                  similarity_stage, self.spark, self.wh, self.fbid, self.redirect, cfg)
        return ran

    def table(self, name: str):
        from wopen_spark.tables import Table

        return Table(self.spark, "crm", name, self.wh)

    def read_mix(self):
        from pyspark.sql import functions as F

        day = F.to_date(F.lit(self.inp.params["day"]))
        return [
            # sql/get_rna_waldec_filtered_data.sql
            ("rna_filtered", lambda k: self.table("rna_waldec_filtered").read()
             .filter(F.col("filtered_cat") == "yes").count()),
            # sql/get_partitions_custom_search.sql
            ("search_partitions", lambda k: self.table("custom_search").partitions("date_extract")),
            ("similarity_day", lambda k: self.table("similarity").read()
             .filter(F.col("date_extract") == day).count()),
            ("raw_bands", lambda k: self.table("associations_raw").read()
             .groupBy("check_levenshtein_similarity_facebook").count().collect()),
            ("validation_day", lambda k: self.table("associations_validation").read()
             .filter(F.col("date_upload") == day).count()),
        ]

    def ledger(self, name: str, field: str) -> dict[str, int]:
        rows = self.table(name).read().groupBy(field).count().collect()
        return {str(r[field]): r["count"] for r in rows}

    def observe(self) -> dict:
        from pyspark.sql import functions as F

        raw = self.table("associations_raw").read().select(
            "titre", "Facebook_ID", F.col("check_levenshtein_similarity_facebook").alias("band")).collect()
        validated = _csv_rows(self.out_csv)
        return {
            "search_rows": self.ledger("custom_search", "date_extract"),
            "similarity_rows": self.ledger("similarity", "date_extract"),
            "raw_rows": len(raw),
            "bands": {b: sum(r.band == b for r in raw) for b in self.inp.expected["bands"]},
            "sentinel_titles": [r.titre for r in raw if r.Facebook_ID == "0"],
            "validation_days": self.table("associations_validation").partitions("date_upload"),
            "validated_titles": [r["titre"] for r in validated],
            "no_coordinates_titles": [r["titre"] for r in validated if not r["coordinates"]],
        }

    def expected_checks(self, obs):
        return checks.check_assoc(obs, self.inp.expected)

    def rerun(self) -> None:
        self.rerun_ran = self.day()

    def observe_rerun(self) -> dict:
        return {
            "search_ran": self.rerun_ran,
            "search_rows": self.ledger("custom_search", "date_extract"),
            "similarity_rows": self.ledger("similarity", "date_extract"),
            "raw_rows": self.table("associations_raw").read().count(),
        }

    def rerun_checks(self, obs):
        return checks.check_assoc_rerun(obs, self.before)

    def isolate(self) -> dict:
        """Force the lazy operators alone on materialized inputs."""
        from pyspark.sql import functions as F

        from wopen_spark.operators.http_enrich import EnrichConfig, http_enrich
        from wopen_spark.operators.similarity import fuzzy_top1_join

        p, seed = self.inp.params, self.inp.seed
        with self.tr.span("bench.materialize", "bench"):
            links = self.table("custom_search").read().filter(F.col("rank") == 1).select("link").localCheckpoint()
            ids = self.table("similarity").read().select("Facebook_ID").localCheckpoint()
            addresses = self.sheets.download("association_validated").select("combined_address").localCheckpoint()
            scored = self.table("similarity").read()
            left = scored.select("searchTerms").distinct().localCheckpoint()
            right = scored.select(F.col("link_new").alias("slug")).distinct().localCheckpoint()
            pairs = left.count() * right.count()
        enrich = [
            (links, "link", Service("fbid", seed, LATENCY_S, frozenset(p["fbid_always"])), "0"),
            (ids, "Facebook_ID", Service("redirect", seed, LATENCY_S), "0"),
            (addresses, "combined_address",
             Service("geocode", seed, LATENCY_S, fail_once=frozenset(p["geocode_once"])), ""),
        ]
        with self.tr.span("operators.http_enrich", "operators.http_enrich"):
            for df, col, svc, sentinel in enrich:
                _force(http_enrich(df, col, svc, out_col="out", config=EnrichConfig(sentinel=sentinel)))
        with self.tr.span("operators.similarity.fuzzy_top1_join", "operators.similarity"):
            _force(fuzzy_top1_join(left, right, "searchTerms", "slug", score_col="score"))
        return {"operators.similarity.pairs_scored": pairs}


# ----------------------------------------------------------------- events


class EventsChain(Chain):
    def stages(self) -> None:
        from wopen_spark.pipelines import EventsConfig, process_events, update_events, wp_export

        opener = self.opener(self.inp.files)
        self.cfg = EventsConfig(
            availability_start="2019-01-01", availability_end="2022-01-01",
            emit_create_rows=True, today=self.inp.params["today"])
        self.create_csv = os.path.join(self.handoff, "events_paris_to_create.csv")
        self.update_csv = os.path.join(self.handoff, "events_to_update.csv")
        self.users_csv = os.path.join(self.handoff, "user_events_to_update.csv")
        self.call("pipelines.wp_export", "pipelines", wp_export, self.spark,
                  "https://wp.example/users_csv", "https://wp.example/listings_csv",
                  self.wh, opener=opener)
        self.call("pipelines.events.process_events", "pipelines", process_events, self.spark,
                  "https://opendata.example/events_csv", self.wh, self.create_csv,
                  config=self.cfg, opener=opener)
        self.call("pipelines.events.update_events", "pipelines", update_events, self.spark,
                  self.wh, self.create_csv, self.update_csv, self.users_csv, self.cfg)

    def table(self, name: str):
        from wopen_spark.tables import Table

        return Table(self.spark, "crm", name, self.wh)

    def read_mix(self):
        from pyspark.sql import functions as F

        titles = sorted(self.inp.expected["calendar_sample"])
        return [
            # sql/get_products_id.sql
            ("products_id", lambda k: self.table("wp_export_associations").read()
             .filter(F.col("_listing_type") == "event").select("Title", "product_id").collect()),
            ("events_arrondissement", lambda k: self.table("events").read()
             .filter(F.col("arrondissement") == f"Paris {k % 20 + 1:02d}").count()),
            ("events_categories", lambda k: self.table("events").read()
             .groupBy("main_category").count().collect()),
            ("owned_listings", lambda k: self.table("wp_export_users").read()
             .filter(F.col("listing_owned") == "owned_listing").count()),
            ("event_calendar", lambda k: self.table("events").read()
             .filter(F.col("Titre") == titles[k % len(titles)])
             .select("calendar_availability").collect()),
        ]

    def observe(self) -> dict:
        from pyspark.sql import functions as F

        sample = list(self.inp.expected["calendar_sample"])
        rows = self.table("events").read().select(
            "Titre", F.when(F.col("Titre").isin(sample), F.col("calendar_availability")).alias("cal")
        ).collect()
        return {
            "events_rows": len(rows),
            "calendar_sample": {r.Titre: r.cal for r in rows if r.cal is not None},
            "create_rows": len(_csv_rows(self.create_csv)),
            "update_rows": len(_csv_rows(self.update_csv)),
            "users_rows": len(_csv_rows(self.users_csv)),
            "users_table_rows": self.table("wp_export_users").read().count(),
            "listings_rows": self.table("wp_export_associations").read().count(),
        }

    def expected_checks(self, obs):
        return checks.check_events(obs, self.inp.expected)

    def isolate(self) -> dict:
        from pyspark.sql import functions as F

        from wopen_spark.functions.dates import availability_calendar
        from wopen_spark.sources.files import csv_source

        with self.tr.span("bench.materialize", "bench"):
            # the pipeline's own occurrence parsing, up to the calendar
            occ = F.split(F.regexp_replace(F.col("Occurrences"), ";", "_"), "_")
            dates = (
                csv_source(self.spark, self.inp.files["events_csv"])
                .filter(F.col("Occurrences").isNotNull())
                .select(F.array_distinct(F.transform(occ, lambda s: F.to_date(F.substring(s, 1, 10)))).alias("d"))
                .localCheckpoint()
            )
            emitted = self.table("events").read().select(
                F.sum(F.size(F.split("calendar_availability", r"\|")))).collect()[0][0]
        with self.tr.span("functions.dates.availability_calendar", "functions.dates"):
            _force(dates.select(availability_calendar(F.col("d"), self.cfg.availability_start,
                                                      self.cfg.availability_end).alias("c")))
        return {"functions.dates.days_emitted": emitted or 0}


# ----------------------------------------------------------------- corpus

CORPUS_SCHEMA = "doc_id long, url string, text string, batch long"
LSH = {"n_hashes": 20, "n_bands": 10}  # ~60-word docs: planted pairs are certain candidates


class CorpusChain(Chain):
    def stages(self) -> None:
        from pyspark.sql import types as T

        from wopen_spark.snapshot_table import SnapshotTable

        self.table = SnapshotTable(self.spark, os.path.join(self.wh, "corpus"))
        schema = T._parse_datatype_string(CORPUS_SCHEMA).add("fingerprint", "string")
        self.call("snapshot_table.create", "snapshot_table", self.table.create,
                  self.spark.createDataFrame([], schema))
        self.reports: dict[str, list[dict]] = {"merge": [], "delete": [], "read_where": [],
                                               "optimize": []}
        self.pairs: list[tuple[int, int]] = []
        p = self.inp.params
        for b in range(p["batches"]):
            self.batch(b)
            ids = p["takedowns"][b]
            if ids:
                rep = self.call("snapshot_table.delete_where", "snapshot_table",
                                self.table.delete_where,
                                f"doc_id IN ({', '.join(map(str, ids))})", mode="dv")
                self.reports["delete"].append(rep)
            for _ in range(READS_PER_RUN // (2 * p["batches"])):
                self.read()
        rep = self.call("snapshot_table.optimize_small_files", "snapshot_table",
                        self.table.optimize_small_files)
        self.reports["optimize"].append(rep)

    def batch(self, b: int, replay: bool = False) -> dict:
        from pyspark.sql import functions as F

        from wopen_spark.operators.dedup import exact_dedup, minhash_lsh_candidates
        from wopen_spark.operators.graph import connected_components
        from wopen_spark.sources.files import jsonl_source

        src = self.call("sources.files.jsonl_source", "sources", jsonl_source, self.spark,
                        self.inp.files[f"batch_{b}"], CORPUS_SCHEMA)
        deduped = self.call("operators.dedup.exact_dedup", "operators.dedup", exact_dedup,
                            src, F.md5(F.col("text")), "doc_id")
        pairs = self.call("operators.dedup.minhash_lsh_candidates", "operators.dedup",
                          minhash_lsh_candidates, deduped, "doc_id", "text", **LSH)
        comps = self.call("operators.graph.connected_components", "operators.graph",
                          connected_components, pairs)
        if self.tr.enabled and not replay:
            self.pairs += [(r.id_a, r.id_b) for r in pairs.collect()]
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"))
        kept = deduped.join(losers, "doc_id", "left_anti")
        rep = self.call("snapshot_table.merge_into", "snapshot_table", self.table.merge_into,
                        kept.withColumn("fingerprint", F.md5(F.col("text"))), "fingerprint",
                        not_matched=[{"action": "insert"}], txn_app="corpus_upsert", txn_version=b)
        self.reports["merge"].append(rep)
        return rep

    def read_mix(self):
        n_docs = self.inp.rows

        def where(k: int):
            lo = 1 + (k * 997) % n_docs
            df, rep = self.table.read_where({"doc_id": (lo, lo + 200)})
            self.reports["read_where"].append(rep)
            return df.count()

        def point(k: int):
            live = self.inp.expected["live_ids"]
            doc = self.table.read_where({"doc_id": (live[k % len(live)],) * 2})
            self.reports["read_where"].append(doc[1])
            return doc[0].select("fingerprint").collect()

        def travel(k: int):
            v = self.table.latest_version()
            return self.table.read(version=max(1, v - 1 - k % 2)).count()

        def changes(k: int):
            v = self.table.latest_version()
            return self.table.read_changes(v - 1, v).count()

        return [("read_where", where), ("point", point), ("time_travel", travel),
                ("read_changes", changes)]

    def observe(self) -> dict:
        rows = self.table.read().select("doc_id", "fingerprint").collect()
        return {"live_ids": [r.doc_id for r in rows], "fingerprints": [r.fingerprint for r in rows],
                "version": self.table.latest_version()}

    def expected_checks(self, obs):
        return checks.check_corpus(obs, self.inp.expected)

    def rerun(self) -> None:
        self.batch(self.inp.params["batches"] - 1, replay=True)

    def observe_rerun(self) -> dict:
        return self.observe()

    def rerun_checks(self, obs):
        return checks.check_corpus_rerun(obs, self.before)

    def isolate(self) -> dict:
        from pyspark.sql import functions as F

        from wopen_spark.operators.dedup import exact_dedup, minhash_lsh_candidates
        from wopen_spark.sources.files import jsonl_source

        last = self.inp.files[f"batch_{self.inp.params['batches'] - 1}"]
        with self.tr.span("bench.materialize", "bench"):
            src = jsonl_source(self.spark, last, CORPUS_SCHEMA).localCheckpoint()
        with self.tr.span("operators.dedup.exact_dedup", "operators.dedup"):
            _force(exact_dedup(src, F.md5(F.col("text")), "doc_id"))
        with self.tr.span("bench.materialize", "bench"):
            deduped = exact_dedup(src, F.md5(F.col("text")), "doc_id").localCheckpoint()
        with self.tr.span("operators.dedup.minhash_lsh_candidates", "operators.dedup"):
            _force(minhash_lsh_candidates(deduped, "doc_id", "text", **LSH))
        found = set(self.pairs) & {tuple(sorted(p)) for p in self.inp.params["near_pairs"]}
        n_planted = len(self.inp.params["near_pairs"])
        files, nbytes = self.rewrites()
        reads = self.reports["read_where"]
        total = sum(r["files_total"] for r in reads)
        return {
            "operators.dedup.candidate_pairs": len(self.pairs),
            "operators.dedup.candidate_precision": len(found) / len(self.pairs) if self.pairs else 0.0,
            "operators.dedup.planted_recall": len(found) / n_planted if n_planted else 0.0,
            "snapshot_table.files_rewritten": files,
            "snapshot_table.mb_rewritten": nbytes / (1 << 20),
            "snapshot_table.files_skipped_frac": (total - sum(r["files_read"] for r in reads)) / total if total else 0.0,
            "snapshot_table.dv_masked_files": sum(r.get("files_masked", 0) for r in self.reports["delete"]),
            "snapshot_table.versions": self.table.latest_version(),
        }

    def rewrites(self) -> tuple[int, int]:
        """Files removed by rewriting commits, and bytes those commits added."""
        log = os.path.join(self.table.path, "_log")
        files = nbytes = 0
        for name in sorted(os.listdir(log)):
            if len(name) != 13 or not name.endswith(".json"):
                continue
            with open(os.path.join(log, name)) as f:
                c = json.load(f)
            if c.get("remove"):
                files += len(c["remove"])
                nbytes += sum(a.get("bytes", 0) for a in c.get("add", []))
        return files, nbytes


def _force(df) -> None:
    """Run a plan to the end without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def install_wrappers(tr: Tracer) -> None:
    """Span the public entry points the pipelines call internally (traced
    run only; ``tr.unwrap()`` restores them)."""
    from importlib import import_module

    from wopen_spark.snapshot_table import SnapshotTable
    from wopen_spark.tables import Table

    associations, events, validation, wp_export = (
        import_module(f"wopen_spark.pipelines.{m}")
        for m in ("associations", "events", "validation", "wp_export"))

    def written(out, args, kwargs):
        table = args[0]
        path = table.path
        if len(args) > 2 and isinstance(args[1], str) and args[1][:1].isdigit():
            path = os.path.join(path, f"{args[2]}={args[1]}")  # write_partition
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    tr.count("tables.files_written")
                    tr.count("tables.mb_written", os.path.getsize(os.path.join(dirpath, n)) / (1 << 20))

    for attr in ("write_partition", "write"):
        tr.wrap(Table, attr, f"tables.{attr}", "tables", after=written)
    for attr in ("partitions", "read"):
        tr.wrap(Table, attr, f"tables.{attr}", "tables")
    tr.wrap(associations, "http_zip_csv_source", "sources.http", "sources")
    for mod in (wp_export, events):
        tr.wrap(mod, "http_csv_source", "sources.http", "sources")

    def sunk(out, args, kwargs):
        tr.count("sources.files.csv_sink.calls")
        tr.count("sources.files.csv_sink.bytes", os.path.getsize(out))

    for mod in (validation, events):
        tr.wrap(mod, "csv_sink", "sources.files.csv_sink", "sources", after=sunk)
        tr.wrap(mod, "csv_source", "sources.files.csv_source", "sources")
    for attr in ("read_where", "read", "read_changes"):
        tr.wrap(SnapshotTable, attr, f"snapshot_table.{attr}", "snapshot_table")


CHAINS = {"assoc": AssocChain, "events": EventsChain, "corpus": CorpusChain}
# workload -> its chains, in run order. The events chain runs inside the
# daily workload (WordPress export first, as in the cron) rather than as a
# workload of its own: see README.md, "Workloads".
WORKLOADS = {"wopen_daily": ("events", "assoc"), "corpus_upsert": ("corpus",)}
