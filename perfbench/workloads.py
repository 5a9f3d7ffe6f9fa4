"""The benchmark workloads.

Each workload is a closed loop of one client: the next job is submitted
when the previous one has completed. A workload

* ``warmup()``: runs its own job on a tiny input (part of set-up);
* ``prepare()``: writes the seeded inputs (untimed, in a child process,
  see ``inputs.py``);
* ``reset(i)``: restores the state job ``i`` starts from (untimed);
* ``job(i)``: one timed job, returning what ``check`` needs;
* ``check(out)``: verifies the job's outputs (untimed), releases what the
  caller owns of them, and returns ``(ok, output_statements)``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from import_spark.plans.genmcf import run_genmcf
from import_spark.plans.kg_pipeline import run_pipeline
from import_spark.queries import _GENMCF_TMCF
from import_spark.sources.tmcf import read_csv
from import_spark.sources.transcripts import dcid_dictionary
from import_spark.streaming import incremental

TRIPLE_COLS = ["subj", "pred", "obj_type", "obj"]


def triple_digest(df) -> tuple[int, int, int]:
    """Order-independent digest of a triple set: (count, xor of
    xxhash64, xor of murmur3)."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*TRIPLE_COLS)).alias("x"),
        F.bit_xor(F.hash(*TRIPLE_COLS).cast("long")).alias("m"),
    ).collect()[0]
    return r["n"], r["x"] or 0, r["m"] or 0


class Workload:
    def __init__(self, bench):
        self.b = bench

    def more(self, done: int) -> bool:
        return True

    def reset(self, i: int) -> None:
        pass


class KgIncremental(Workload):
    """Rounds of: land one new transcript file, drain it into the
    pipeline snapshot with the AvailableNow stream, resume the pipeline
    from the snapshot and rewrite the bucketed triples to disk.

    Every round starts from the same state, the one the warm-up rounds
    leave (a live snapshot and stream checkpoint): ``reset`` copies it
    back into place, at the same paths, since the stream checkpoint
    records absolute file paths. Rounds differ only in the batch they
    land, so the rounds of a run, and the untraced and traced rounds of
    a traced run, time the same job."""

    name = "kg_incremental"
    sizes = {"conversations_per_round": 2_000, "warmup_conversations": 300}

    def _round(self, staged: str):
        spark = self.b.spark
        landing = os.path.join(self.root, "landing")
        os.makedirs(landing, exist_ok=True)
        shutil.copy(staged, os.path.join(landing, os.path.basename(staged)))
        dd = dcid_dictionary(spark)
        ckpt = os.path.join(self.root, "ckpt")
        self.b.ingest(incremental.ingest_to_pipeline_snapshot, os.path.join(ckpt, "inc", "linked"),
                      spark, landing, ckpt, dd, run_id="inc")
        tr = self.b.source(spark.read.parquet(landing))
        return run_pipeline(spark, tr, dd, checkpoint_dir=ckpt,
                            out_dir=os.path.join(self.root, "out"),
                            run_id="inc", keep_snapshot=True)

    def warmup(self) -> None:
        """Two tiny rounds: the first starts the snapshot, the second
        resumes from it, as every timed round does. With only the first,
        the first timed round ran the resume path cold: over four runs
        on one 4-core host it took 10.4-12.5 s, against 10.3-11.2 s
        after both."""
        self.root = self.b.path("run")
        meta = self.b.prepare_tiny({"kind": "transcripts", "seed": self.b.seed,
                                    "convs": self.sizes["warmup_conversations"],
                                    "batches": 2, "prefix": "warm", "out_dir": self.b.path("warm")})
        for f in meta["files"]:
            res = self._round(f)
            self.b.release(res.triples, res.failed)

    def prepare(self) -> None:
        self.pristine = os.path.join(self.b.work, "pristine")
        shutil.copytree(self.root, self.pristine)
        # batches start after the warm-up batches' conversations; a round
        # takes several seconds, so this many files never run out
        self.staged = self.b.prepare({"kind": "transcripts", "seed": self.b.seed,
                                      "skip": 2 * self.sizes["warmup_conversations"],
                                      "convs": self.sizes["conversations_per_round"],
                                      "batches": self.b.seconds // 2 + 2,
                                      "out_dir": self.b.path("staged")})["files"]

    def more(self, done: int) -> bool:
        return done < len(self.staged)

    def reset(self, i: int) -> None:
        shutil.rmtree(self.root)
        shutil.copytree(self.pristine, self.root)

    def job(self, i: int):
        return self._round(self.staged[i])

    def check(self, res) -> tuple[bool, int]:
        """The round must resume from the snapshot, and the on-disk
        triples must equal the oracle over every landed batch."""
        resumed = any(r["stage"] == "link" and r["counter"] == "resumed_from_checkpoint"
                      for r in res.metrics)
        self.b.count("resolve.failed_rows", res.failed.count())
        landing = os.path.join(self.root, "landing")
        files = sorted(os.path.join(landing, f) for f in os.listdir(landing))
        want = triple_digest(self.b.spark.read.parquet(
            self.b.prepare({"kind": "oracle", "files": files})["expected"]))
        got = triple_digest(res.triples)
        self.b.release(res.triples, res.failed)
        if not (resumed and got == want):
            print(f"kg_incremental check failed: resumed={resumed} triples={got} want={want}")
        return resumed and got == want, got[0]


class GenmcfTmcf(Workload):
    """``run_genmcf`` over a seeded CSV with the two-node
    StatVarObservation template, MCF and report.json written."""

    name = "genmcf_tmcf"
    sizes = {"rows": 30_000, "places": 150}

    def _run(self, csv_path: str, out_dir: str):
        csv = self.b.source(read_csv(self.b.spark, csv_path))
        return run_genmcf(self.b.spark, _GENMCF_TMCF, csv, row_id_col="rid", out_dir=out_dir)

    def warmup(self) -> None:
        meta = self.b.prepare_tiny({"kind": "genmcf", "seed": self.b.seed, "rows": 50,
                                    "places": 5, "out_dir": self.b.path("warm")})
        res = self._run(meta["files"][0], self.b.path("warm", "out"))
        self.b.release(res.nodes, res.failed, res.errors)

    def prepare(self) -> None:
        self.meta = self.b.prepare({"kind": "genmcf", "seed": self.b.seed, **self.sizes,
                                    "out_dir": self.b.path("input")})

    def job(self, i: int):
        out = self.b.path("out", f"job-{i}")
        return self._run(self.meta["files"][0], out), out

    def check(self, res_out) -> tuple[bool, int]:
        res, out = res_out
        c = self.meta["rows"]
        # closed form of queries.SQL_GENMCF for an all-valid input
        want = {"dcid": 2 * c, "observationAbout": c, "observationDate": c,
                "typeOf": 2 * c, "value": c, "variableMeasured": c}
        got = {r["prop"]: r["count"] for r in res.nodes.groupBy("prop").count().collect()}
        with open(os.path.join(out, "report.json")) as f:
            report = json.load(f)
        processed = report["levelSummary"]["LEVEL_INFO"]["counters"]["NumNodesProcessed"]
        mcf_dir = os.path.join(out, "table_mcf_nodes")
        wrote = any(f.startswith("part-") for f in os.listdir(mcf_dir))
        shutil.rmtree(out, ignore_errors=True)
        self.b.release(res.nodes, res.failed, res.errors)
        ok = got == want and processed == c + self.meta["places"] and wrote
        if not ok:
            print(f"genmcf_tmcf check failed: counts={got} want={want} "
                  f"NumNodesProcessed={processed} mcf_written={wrote}")
        return ok, sum(got.values())


WORKLOADS = {w.name: w for w in (KgIncremental, GenmcfTmcf)}
