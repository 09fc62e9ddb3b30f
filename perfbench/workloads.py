"""The benchmark workloads: generated inputs, model training,
the disk-staged pipeline as a list of layer calls, and output checks.

Each layer call goes through that layer's public functions in the
order ``python -m polaroam_spark ingest|stops|cluster|label`` (or the
corpus commands) would use, and writes its stage to disk. Checks read
the written stages with pyarrow, never with Spark, so they add no
jobs to the traced counters.
"""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import gen

#: output floors, measured at seed 1 and set a little below it
LABEL_ACCURACY_FLOOR = 0.9
DEDUP_RECALL_FLOOR = 0.9
JUNK_REMOVED_FLOOR = 0.9
CLEAN_KEPT_FLOOR = 0.9
#: a planted place counts as found within this many metres
PLACE_TOLERANCE_M = 30.0
#: documents per tokenizer family checked for decode(encode(x)) == x
ROUNDTRIP_SAMPLE = 50


def stage_rows(path: str) -> int:
    """Rows in a parquet stage directory, from footers only."""
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _read(path: str, columns=None):
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def _metres(a, b) -> float:
    dlat = (a[0] - b[0]) * gen._M_PER_DEG
    dlon = (a[1] - b[1]) * gen._M_PER_DEG * math.cos(math.radians(a[0]))
    return math.hypot(dlat, dlon)


class Workload:
    """Base class. Subclasses fill ``layers`` and the four hooks;
    ``self.spark`` is set to a fresh session before each set-up."""

    name = ""
    why = ""
    layers: "tuple[str, ...]" = ()
    trains: "tuple[str, ...]" = ()

    def __init__(self, work: str):
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.spark = None
        self.truth = None
        self.input_rows = 0
        self.input_bytes = 0

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def train(self, name: str) -> None:
        """Set-up step ``setup.train.<name>``."""
        raise NotImplementedError

    def steps(self, out: str) -> "list[tuple[str, object, object]]":
        """``[(layer, fn, input_rows_fn)]`` for one run writing under
        ``out``; ``input_rows_fn()`` gives the rows of the files the
        layer reads (for ``read_amp``), called after the run."""
        raise NotImplementedError

    def check(self, out: str) -> "tuple[dict, float, dict]":
        """``(stage row counts, output quality in (0, 1], {layer:
        failure})`` for the run written under ``out``."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# mobility
# ---------------------------------------------------------------------------


class Mobility(Workload):
    name = "mobility"
    why = (
        "A few dense users (60 s pings) load ingest and the per-user stop windows; "
        "many sparse users (1 h pings) load per-user DBSCAN groups and the home/work jobs."
    )
    layers = ("sources.io", "operators.stops", "operators.clustering", "operators.homework")
    spec = gen.MobilitySpec(cohorts=((8, 60.0), (300, 3600.0)), days=7)

    def generate(self, seed: int) -> None:
        raw = os.path.join(self.inputs, "pings_raw")
        self.truth = gen.generate_mobility(self.spec, seed, raw)
        self.raw = raw
        self.input_rows = self.truth.n_pings
        self.input_bytes = self.truth.input_bytes

    def train(self, name: str) -> None:  # nothing to train
        raise KeyError(name)

    def steps(self, out):
        from polaroam_spark.api import StopDetect
        from polaroam_spark.operators.clustering import attach_medoids, cluster_stops_dbscan
        from polaroam_spark.operators.homework import (
            detect_home,
            detect_work,
            home_work_wide,
            prepare_labeling,
        )
        from polaroam_spark.sources.io import (
            PARQUET_VENDOR_COLUMNS,
            localize_timestamps,
            read_pings_parquet,
            write_sorted_partitioned,
        )

        spark = self.spark
        p = {k: os.path.join(out, k) for k in ("pings", "stop_events", "stop_medians", "clustered", "labeled", "home_work_wide")}

        def ingest():
            df = read_pings_parquet(spark, self.raw, columns=PARQUET_VENDOR_COLUMNS, max_error=gen.ERROR_FILTER_M)
            write_sorted_partitioned(localize_timestamps(df, "UTC"), p["pings"])

        def stops():
            model = StopDetect()
            events = model.fit_predict(spark.read.parquet(p["pings"]))
            medians = model.compute_label_medians()
            events.write.mode("overwrite").parquet(p["stop_events"])
            medians.write.mode("overwrite").parquet(p["stop_medians"])

        def cluster():
            labeled = cluster_stops_dbscan(spark.read.parquet(p["stop_medians"]), r2=10.0)
            attach_medoids(labeled).write.mode("overwrite").parquet(p["clustered"])

        def label():
            df = prepare_labeling(spark.read.parquet(p["clustered"]))
            df = detect_home(df, total_days=self.spec.days)
            df = detect_work(df, total_days=self.spec.days)
            df.write.mode("overwrite").parquet(p["labeled"])
            home_work_wide(df).write.mode("overwrite").parquet(p["home_work_wide"])

        return [
            ("sources.io", ingest, lambda: self.input_rows),
            ("operators.stops", stops, lambda: stage_rows(p["pings"])),
            ("operators.clustering", cluster, lambda: stage_rows(p["stop_medians"])),
            ("operators.homework", label, lambda: stage_rows(p["clustered"])),
        ]

    def check(self, out):
        names = ("pings", "stop_events", "stop_medians", "clustered", "labeled", "home_work_wide")
        rows = {n: stage_rows(os.path.join(out, n)) for n in names}
        fails = {}
        if rows["pings"] != self.truth.n_pings - self.truth.n_filtered:
            fails["sources.io"] = f"pings {rows['pings']} != {self.truth.n_pings - self.truth.n_filtered} unfiltered"
        if rows["stop_events"] != rows["pings"]:
            fails["operators.stops"] = "stop_events lost pings"
        if rows["clustered"] != rows["stop_medians"]:
            fails["operators.clustering"] = "clustered lost stops"
        hw = _read(os.path.join(out, "home_work_wide")).to_pylist()
        hits = 0
        for r in hw:
            h, w = self.truth.home.get(r["uid"]), self.truth.work.get(r["uid"])
            if h is None or r["h_lat"] is None or r["w_lat"] is None:
                continue
            if (
                _metres((r["h_lat"], r["h_lon"]), h) <= PLACE_TOLERANCE_M
                and _metres((r["w_lat"], r["w_lon"]), w) <= PLACE_TOLERANCE_M
            ):
                hits += 1
        acc = hits / len(self.truth.home)
        if acc < LABEL_ACCURACY_FLOOR:
            fails["operators.homework"] = f"label_accuracy {acc:.3f} < {LABEL_ACCURACY_FLOOR}"
        return rows, acc, fails


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _roundtrip_failures(ids_path: str, docs_path: str, decode, ids_col="token_ids") -> int:
    """Documents among the first :data:`ROUNDTRIP_SAMPLE` encoded ones
    whose decoded ids differ from their text."""
    enc = _read(ids_path, ["doc_id", ids_col]).sort_by("doc_id").slice(0, ROUNDTRIP_SAMPLE).to_pylist()
    want = {r["doc_id"] for r in enc}
    docs = _read(docs_path, ["doc_id", "text"]).to_pylist()
    text = {r["doc_id"]: r["text"] for r in docs if r["doc_id"] in want}
    return sum(decode(r[ids_col]) != text[r["doc_id"]] for r in enc)


class Corpus(Workload):
    name = "corpus"
    why = (
        "Cleaning ladder (Gopher, entropy, classifier, MinHash dedup) over Zipf web text plus a "
        "long-tail source, then BPE, unigram, WordPiece and chat SFT encodes of what is kept."
    )
    layers = (
        "operators.curation.kept",
        "operators.curation.stats",
        "operators.tokenize",
        "operators.unigram",
        "operators.wordpiece",
        "operators.sft",
    )
    trains = ("classifier", "bpe", "unigram", "wordpiece")
    spec = gen.CorpusSpec(
        sources=(("web", 500, 20_000, 1.0), ("forum", 500, 300_000, 0.3)),
        dup_clusters=40,
        junk=30,
        chats=200,
    )
    min_token_entropy = 3.0
    vocab_size = 512
    #: training sample per tokenizer family: documents with doc_id <= n
    train_docs = {"bpe": 60, "unigram": 30, "wordpiece": 200}
    #: (layer, model key, output dir) of the three document encoders
    encoders = (
        ("operators.tokenize", "bpe", "bpe"),
        ("operators.unigram", "unigram", "unigram"),
        ("operators.wordpiece", "wordpiece", "wordpiece"),
    )

    def generate(self, seed: int) -> None:
        self.docs = os.path.join(self.inputs, "docs")
        self.chats = os.path.join(self.inputs, "chats")
        self.clf_path = os.path.join(self.inputs, "classifier_train")
        self.truth = gen.generate_corpus(self.spec, seed, self.docs, chat_path=self.chats)
        os.makedirs(self.clf_path, exist_ok=True)
        pq.write_table(gen.classifier_training_table(seed), os.path.join(self.clf_path, "part-00000.parquet"))
        self.input_rows = self.truth.n_docs + self.spec.chats
        self.input_bytes = self.truth.input_bytes
        self.models = {}
    def train(self, name: str) -> None:
        if name == "classifier":
            from polaroam_spark.operators.quality import train_quality_classifier

            self.models[name] = train_quality_classifier(
                self.spark.read.parquet(self.clf_path), n_iter=2, learning_rate=5.0
            )
            return
        from polaroam_spark.operators.tokenize import train_bpe
        from polaroam_spark.operators.unigram import train_unigram
        from polaroam_spark.operators.wordpiece import train_wordpiece

        fn = {"bpe": train_bpe, "unigram": train_unigram, "wordpiece": train_wordpiece}[name]
        sample = self.spark.read.parquet(self.docs).filter(f"doc_id <= {self.train_docs[name]}")
        self.models[name] = fn(sample, vocab_size=self.vocab_size)

    def steps(self, out):
        from pyspark.sql import functions as F

        from polaroam_spark.operators.curation import curate_corpus
        from polaroam_spark.operators.sft import encode_chat_sft
        from polaroam_spark.operators.tokenize import bpe_encode
        from polaroam_spark.operators.unigram import unigram_encode
        from polaroam_spark.operators.wordpiece import wordpiece_encode

        spark = self.spark
        kept_p, stats_p = os.path.join(out, "kept"), os.path.join(out, "stats")
        state = {}

        def kept():
            kept_df, stats = curate_corpus(
                spark.read.parquet(self.docs),
                gopher=True,
                min_token_entropy=self.min_token_entropy,
                classifier_model=self.models["classifier"],
                dedup="minhash",
                with_stats=True,
            )
            state["stats"] = stats
            kept_df.write.mode("overwrite").parquet(kept_p)

        def stats():
            rows = state["stats"].orderBy("stage_idx").collect()
            os.makedirs(stats_p, exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist([r.asDict() for r in rows]),
                os.path.join(stats_p, "part-00000.parquet"),
            )

        fns = {"bpe": bpe_encode, "unigram": unigram_encode, "wordpiece": wordpiece_encode}

        def encoder(key, dest):
            def run():
                enc = fns[key](spark.read.parquet(kept_p), self.models[key]).select(
                    "doc_id", "token_ids", F.array_size("token_ids").cast("long").alias("n_tokens")
                )
                enc.write.mode("overwrite").parquet(os.path.join(out, dest))

            return run

        def sft():
            enc = encode_chat_sft(spark.read.parquet(self.chats), self.models["bpe"])
            enc.select("doc_id", "token_ids", "loss_mask").write.mode("overwrite").parquet(os.path.join(out, "sft"))

        kept_rows = lambda: stage_rows(kept_p)  # noqa: E731
        return [
            ("operators.curation.kept", kept, lambda: self.truth.n_docs),
            ("operators.curation.stats", stats, lambda: self.truth.n_docs),
            *[(layer, encoder(key, dest), kept_rows) for layer, key, dest in self.encoders],
            ("operators.sft", sft, lambda: self.spec.chats),
        ]

    def check(self, out):
        from polaroam_spark.operators.tokenize import decode_ids
        from polaroam_spark.operators.unigram import decode_ids_unigram
        from polaroam_spark.operators.wordpiece import decode_ids_wordpiece

        decoders = {"bpe": decode_ids, "unigram": decode_ids_unigram, "wordpiece": decode_ids_wordpiece}
        kept_p = os.path.join(out, "kept")
        kept = set(_read(kept_p, ["doc_id"]).column("doc_id").to_pylist())
        stats = _read(os.path.join(out, "stats")).to_pylist()
        rows = {f"stage.{r['stage']}": r["n_docs"] for r in stats}
        rows["kept"] = len(kept)
        fails = {}
        planted = sum(len(cs) for _h, cs in self.truth.clusters)
        gone = sum(min(len(cs), sum(i not in kept for i in [h, *cs])) for h, cs in self.truth.clusters)
        recall = gone / planted
        junk_out = sum(i not in kept for i in self.truth.junk) / len(self.truth.junk)
        clean_in = sum(i in kept for i in self.truth.clean) / len(self.truth.clean)
        if recall < DEDUP_RECALL_FLOOR or junk_out < JUNK_REMOVED_FLOOR or clean_in < CLEAN_KEPT_FLOOR:
            fails["operators.curation.kept"] = (
                f"dedup_recall {recall:.3f}, junk removed {junk_out:.3f}, clean kept {clean_in:.3f}"
            )
        if rows.get("stage.input") != self.truth.n_docs or rows.get("stage.dedup_minhash") != len(kept):
            fails["operators.curation.stats"] = f"stats {rows} disagree with input/kept"
        for layer, key, dest in self.encoders:
            path = os.path.join(out, dest)
            rows[dest] = stage_rows(path)
            model, dec = self.models[key], decoders[key]
            bad = _roundtrip_failures(path, kept_p, lambda ids: dec(model, ids))
            if rows[dest] != len(kept) or bad:
                fails[layer] = f"{rows[dest]} rows for {len(kept)} kept, {bad} round-trip mismatches"
        sft = _read(os.path.join(out, "sft")).to_pylist()
        rows["sft"] = len(sft)
        rows["sft.tokens"] = sum(len(r["token_ids"]) for r in sft)
        if len(sft) != self.spec.chats or any(
            len(r["token_ids"]) != len(r["loss_mask"]) or not any(r["loss_mask"]) for r in sft
        ):
            fails["operators.sft"] = "sft rows, mask lengths or empty masks wrong"
        return rows, recall, fails


WORKLOADS = {w.name: w for w in (Mobility, Corpus)}

#: every layer and set-up span of any workload, in order; ``--trace 1``
#: reports all of them, 0 for those its workload does not call
LAYERS = tuple(dict.fromkeys(layer for w in WORKLOADS.values() for layer in w.layers))
SETUP_SPANS = ("setup.session",) + tuple(
    dict.fromkeys(f"setup.train.{t}" for w in WORKLOADS.values() for t in w.trains)
)
