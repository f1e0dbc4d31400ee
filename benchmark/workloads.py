"""The benchmark workloads: each one chains public functions of the
program on the generated inputs, and checks what the chain wrote.

Why these two: ``route_fanout`` is the paper's job (parse, sniff, route,
cast, a few large partitioned sinks, per-route manifest commits);
``token_pack`` never parses a line, so a parse or cast change must leave
it unchanged while a shuffle or serialization change must move it.

Each workload object holds the run's inputs and expected outcomes;
``run`` does one job and returns what the checks need, ``check`` returns
a list of failures (empty when the outputs are right), and
``layer_counters`` adds the traced run's counts read from the outputs.
The checks digest token arrays and cast values with Spark's
``xxhash64`` expression, never with the program's own digest helpers.
"""

from __future__ import annotations

import collections
import os
import shutil

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ulp_spark.operators import (enrich, fanout, lattice, packing, parse,
                                 route_cast, sharding, tokens)
from ulp_spark.plans import manifest, pipeline
from ulp_spark.session import seam

import gen
import probes

FIELDS = parse.all_fields(parse.DEFAULT_PATTERNS)
CAST_COLS = [f"{f}__cast" for f in FIELDS]


def digest(*cols):
    """Order-independent per-group digest term: xxhash64 shifted right so a
    sum over up to 2**24 rows cannot overflow a long."""
    return F.shiftright(F.xxhash64(*cols), 24)


def _count_digest(df, key, *cols) -> dict:
    """{key: (rows, digest of cols)} over ``df``."""
    return {r[0]: (r[1], r[2]) for r in df.groupBy(key).agg(
        F.count(F.lit(1)), F.sum(digest(*cols))).collect()}


def _cast_terms(cast_error) -> list:
    """The columns a record sink's digest covers: the id, every cast value
    (NULL made distinct from every string, since xxhash64 skips NULLs) and
    the row's ``cast_error``."""
    return [F.col("doc_id"),
            *[F.coalesce(F.col(c), F.lit("\0")) for c in CAST_COLS],
            cast_error]


def _diff(got: dict, want: dict) -> list:
    return sorted(set(got.items()) ^ set(want.items()))[:4]


class Workload:
    """Shared plumbing: input frames, expected outcomes, output directory."""

    def __init__(self, spark, tracer, data_dir: str, out_dir: str,
                 summary: dict):
        self.spark, self.tracer = spark, tracer
        self.data_dir, self.out_dir = data_dir, out_dir
        self.summary = summary
        self.n_rows = summary["n_rows"]
        self.seq = spark.read.parquet(os.path.join(data_dir, "sequences"))
        self.expected = spark.read.parquet(os.path.join(data_dir, "expected"))
        self.counters: dict[str, float] = {}

    def warm(self) -> None:
        """The set-up's warm-up action: read every input once and digest
        the outputs the checks expect."""
        raise NotImplementedError

    def seam_storage(self) -> None:
        mem, disk = probes.storage_mb(self.spark.sparkContext)
        self.counters["seam.mem_mb"] = mem
        self.counters["seam.disk_mb"] = disk

    def clear(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


class RouteFanout(Workload):
    """The paper's job: parse, infer per-route schemas, cast, fan out.

    Two partitioned writes (``fanout.write_partitioned``): the cast
    records, and the program's token carrier ``routed_tokens`` as it
    comes; the routed records are also committed route by route through
    the resumable manifest, as ``scripts/run_pipeline.py`` does."""

    def __init__(self, *a):
        super().__init__(*a)
        self.lines = self.spark.read.parquet(
            os.path.join(self.data_dir, "lines"))

    def warm(self) -> None:
        self.lines.write.format("noop").mode("overwrite").save()
        exp = self.expected
        # per route: (rows, digest of id + every cast value) for the
        # record sinks, (rows, digest of id + tokens) for the token sinks,
        # which carry parsed rows only, and (rows, digest of id) for the
        # manifest's record sinks
        self.want_cast = _count_digest(exp, "route", *_cast_terms(F.lit(False)))
        parsed = exp.filter(F.col("route") != gen.QUARANTINE)
        self.want_tok = _count_digest(parsed.join(self.seq, "doc_id"),
                                      "route", "doc_id", "tokens", "n_tok")
        self.want_ids = _count_digest(exp, "route", "doc_id")

    def build(self):
        t = self.tracer
        parse_obs = Observation("parse")
        hit_obs = Observation("enrich")
        wraps = [
            (parse, "parse_lines", "parse.parse_lines",
             (parse_obs, F.count(F.lit(1)).alias("rows"),
              F.sum(F.col("parse_error").cast("long")).alias("bad"))),
            (enrich, "enrich", "enrich.enrich",
             (hit_obs, F.count(F.lit(1)).alias("rows"),
              F.count("category").alias("hits"))),
        ]
        with t.wrapping(wraps), t.span("pipeline.build"):
            p = pipeline.build(self.spark, sequences_df=self.seq,
                               lines_df=self.lines, checkpoint="local")
        if t.enabled:
            po, ho = parse_obs.get, hit_obs.get
            self.counters["parse.quarantine_frac"] = po["bad"] / po["rows"]
            self.counters["enrich.hit_frac"] = ho["hits"] / ho["rows"]
            self.seam_storage()
        return p

    def run(self) -> dict:
        t = self.tracer
        p = self.build()
        with t.span("lattice.route_schemas"):
            schemas = lattice.route_schemas(
                p.routed.filter(~F.col("parse_error")), FIELDS)
        self.counters["lattice.routes"] = len(schemas)
        # quarantined rows have no fields: an empty schema carries them
        # through the cast untouched, as scripts/run_pipeline.py does
        schemas[pipeline.QUARANTINE] = {}

        run_id = "run"  # the output directory is emptied before every job
        with t.span("manifest.new_manifest"):
            m = manifest.new_manifest(run_id, self.n_rows, schemas)
            manifest.save(self.out_dir, run_id, m)

        cast_obs = Observation("cast")
        with t.span("route_cast.cast_single_pass"):
            casted = route_cast.cast_single_pass(p.routed, schemas, FIELDS)
            t.force(casted, (cast_obs, F.count(F.lit(1)).alias("rows"),
                             F.sum(F.col("cast_error").cast("long"))
                             .alias("bad")))
        if t.enabled:
            co = cast_obs.get
            self.counters["route_cast.error_frac"] = co["bad"] / co["rows"]
        records = os.path.join(self.out_dir, "records")
        with t.span("fanout.write_partitioned"):
            fanout.write_partitioned(
                casted.select("doc_id", "route", *CAST_COLS, "cast_error"),
                records)
        token_sinks = os.path.join(self.out_dir, "tokens")
        with t.span("fanout.write_partitioned"):
            fanout.write_partitioned(p.routed_tokens, token_sinks)

        with t.span("manifest.resume_fanout"):
            m = manifest.resume_fanout(
                p.routed.select("doc_id", "route", "parser", "parse_error"),
                m, self.out_dir)

        with t.span("fanout.route_counts"):
            counts = {r["route"]: r["n_rows"] for r in p.route_counts.collect()}
        with t.span("agg.hist"):
            hist = p.source_token_hist.collect()
        return {"records": records, "tokens": token_sinks, "counts": counts,
                "hist": hist, "manifest": m,
                "run_path": os.path.join(self.out_dir, run_id)}

    def check(self, res: dict) -> list[str]:
        bad = []
        want_counts = {r: n for r, (n, _) in self.want_ids.items()}
        if res["counts"] != want_counts:
            bad.append(f"route_counts {res['counts']} != {want_counts}")
        hist = (sum(r["n_rows"] for r in res["hist"]),
                sum(r["sum_tok"] for r in res["hist"]))
        want_hist = tuple(self.summary["parsed_rows_tok"])
        if hist != want_hist:
            bad.append(f"source_token_hist totals {hist} != {want_hist}")
        got = _count_digest(self.spark.read.parquet(res["records"]), "route",
                            *_cast_terms(F.col("cast_error")))
        if got != self.want_cast:
            bad.append("record sink rows/cast digests differ from the "
                       f"expected casts on routes {_diff(got, self.want_cast)}")
        got = _count_digest(self.spark.read.parquet(res["tokens"]), "route",
                            "doc_id", "tokens", "n_tok")
        if got != self.want_tok:
            bad.append("token sink rows/token digests differ from the input "
                       f"on routes {_diff(got, self.want_tok)}")

        m = res["manifest"]
        committed = {r: e["n_rows"] for r, e in m["routes"].items()
                     if e["committed"]}
        if committed != want_counts:
            bad.append(f"manifest commits {committed} != {want_counts}")
        if manifest.load(self.out_dir, m["run_id"]) != m:
            bad.append("saved manifest differs from the returned one")
        rows = self.spark.read.parquet(
            os.path.join(res["run_path"], "sinks", "*"))
        away = ~F.input_file_name().contains(
            F.concat(F.lit("/sinks/"), F.col("route"), F.lit("/")))
        agg = rows.withColumn("away", away.cast("long")).groupBy("route").agg(
            F.count(F.lit(1)), F.sum(digest("doc_id")), F.sum("away")).collect()
        misplaced = sum(r[3] for r in agg)
        if misplaced:
            bad.append(f"{misplaced} manifest sink rows sit under another route")
        got = {r[0]: (r[1], r[2]) for r in agg}
        if got != self.want_ids:
            bad.append("manifest sink rows/id digests differ from the input "
                       f"on routes {_diff(got, self.want_ids)}")
        return bad

    def layer_counters(self, res: dict) -> None:
        files = nbytes = 0
        for path in (res["records"], res["tokens"]):
            for root, _, names in os.walk(path):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(root, n))
        self.counters.update({
            "fanout.bytes": nbytes, "fanout.files": files,
            "fanout.sinks": len(res["counts"]),
            "manifest.commits": sum(
                e["committed"] for e in res["manifest"]["routes"].values()),
        })


class TokenPack(Workload):
    def warm(self) -> None:
        surv = self.expected.filter("survivor").join(self.seq, "doc_id")
        self.want_docs = collections.Counter(
            r[0] for r in surv.select(F.xxhash64("tokens")).collect())

    def run(self) -> dict:
        t = self.tracer
        with t.span("tokens.dedup"):
            # census form, as scripts/run_training_data.py runs it: one
            # aggregate yields the survivor id and its length
            surv = seam(
                self.seq.groupBy(
                    tokens.token_fingerprint(F.col("tokens")).alias("fp"))
                .agg(F.min("doc_id").alias("doc_id"),
                     F.min("n_tok").alias("n_tok"),
                     F.min("source").alias("source")))
            t.force(surv)
        if t.enabled:
            self.seam_storage()
        with t.span("packing.bins"):
            assign = packing.pack_bins(surv.select("doc_id", "n_tok"))
            t.force(assign)
        with t.span("packing.rows"):
            packed = packing.pack_sequences(self.seq, assign)
            t.force(packed)
        path = os.path.join(self.out_dir, "shards")
        with t.span("sharding.write_shards"):
            man = sharding.write_shards(packed, path, order_col="bin_id")
            shards = man.collect()
        return {"path": path, "shards": shards, "assign": assign}

    def check(self, res: dict) -> list[str]:
        bad = []
        want_tok = self.summary["survivor_tok"]
        man_tok = sum(r["n_tokens"] for r in res["shards"])
        if man_tok != want_tok:
            bad.append(f"shard manifest tokens {man_tok} != {want_tok}")
        rows = self.spark.read.parquet(res["path"])
        flat = rows.agg(F.sum(F.size("tokens"))).collect()[0][0]
        if flat != want_tok:
            bad.append(f"flattened packed length {flat} != {want_tok}")
        # split every packed row back into its documents and compare the
        # multiset of document digests with the expected survivors'
        docs = rows.select(
            "tokens", F.posexplode("doc_starts").alias("i", "st"),
            F.size("doc_starts").alias("nd"), "doc_starts")
        end = F.when(F.col("i") + 1 < F.col("nd"),
                     F.try_element_at("doc_starts", F.col("i") + 2)
                     ).otherwise(F.size("tokens"))
        got = collections.Counter(r[0] for r in docs.select(F.xxhash64(
            F.slice("tokens", F.col("st") + 1, end - F.col("st")))).collect())
        if got != self.want_docs:
            extra = sum((got - self.want_docs).values())
            missing = sum((self.want_docs - got).values())
            bad.append(f"packed documents: {extra} unexpected or repeated, "
                       f"{missing} missing")
        return bad

    def layer_counters(self, res: dict) -> None:
        n_surv = sum(self.want_docs.values())
        self.counters["tokens.survivor_frac"] = n_surv / self.n_rows
        self.counters["sharding.shards"] = len(res["shards"])
        self.counters["packing.fill_frac"] = packing.bin_stats(
            res["assign"]).collect()[0]["fill_frac"]


WORKLOADS = {"route_fanout": RouteFanout, "token_pack": TokenPack}
