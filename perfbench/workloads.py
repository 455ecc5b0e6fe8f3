"""The benchmark workloads.

Each workload generates its inputs from the seed, then offers:

- ``setup_pass``: the first pass, timed as part of set-up (cold Python
  workers, cold JIT);
- ``run_pass``: one untraced pass, returning per-operation times;
- ``traced_pass``: one pass with a span around every call into a layer;
- ``checks``: output checks, run after the timed passes.

``items`` is the number of inputs one pass processes, ``item_name`` what
they are (images or queries).
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass, field

import checks
import data

# bench.py's frozen headline set.
HEADLINE = [
    "q_flagship", "q_agg_groupby", "q_agg_sigclip", "q_join_inner",
    "q_join_nn", "q_window_trim", "q_topk_per_group", "q_stream_session",
    "q_dedup_tokenset", "q_ngram_jaccard", "q_sim_topk", "q_sim_bucketed",
    "q_dedup_simhash", "q_annulus_background", "q_token_topk",
    "q_pack_sequences", "q_unigram_logprob",
]


@dataclass
class PassResult:
    op_times: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Campaign:
    """The paper's workload: a FITS campaign through the pipeline CLI
    into its four sinks."""

    def __init__(self, n_epochs: int, size: int, n_stars: int):
        self.n_epochs, self.size, self.n_stars = n_epochs, size, n_stars

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.images = os.path.join(work, "campaign")
        self.truth = data.write_campaign(self.images, seed, self.n_epochs,
                                         self.size, self.n_stars)
        self.items, self.item_name = self.truth["n_images"], "images"
        self.outs: list[str] = []

    def _fresh_out(self, spark) -> str:
        out = os.path.join(self.work, f"out-{len(self.outs)}")
        os.makedirs(out)
        self.outs.append(out)
        spark.catalog.clearCache()
        return out

    def _argv(self, out: str) -> list[str]:
        return ["--images", self.images,
                "--manifest", os.path.join(self.images, "manifest.csv"),
                "--out", out, "--size", str(self.size)]

    def setup_pass(self, spark) -> PassResult:
        self.before_pass(spark)
        return self.run_pass(spark)

    def before_pass(self, spark) -> None:
        self._next_out = self._fresh_out(spark)

    def run_pass(self, spark) -> PassResult:
        from telescope_data_pipeline_spark.__main__ import main

        out = self._next_out
        res = PassResult(attempted=1)
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(sys.stderr):
                main(self._argv(out))
        except Exception as e:  # a failed run counts; the benchmark goes on
            print(f"perfbench: campaign pass failed: {e!r}", file=sys.stderr)
            res.failed = 1
            return res
        res.op_times.append(time.perf_counter() - t0)
        return res

    def traced_pass(self, spark, tracer) -> dict[str, float]:
        """``__main__.main`` step by step: the same public functions in
        the same order, with each stage cached and materialised inside
        its own span."""
        from pyspark.sql import functions as F

        from telescope_data_pipeline_spark.operators.external import solve_wcs
        from telescope_data_pipeline_spark.plans.pipeline import run_photometry_pipeline
        from telescope_data_pipeline_spark.sources.fits import scan_fits_dir, write_stacked_fits
        from telescope_data_pipeline_spark.sources.pdf import write_diagnostics_pdf
        from telescope_data_pipeline_spark.sources.sinks import write_diagnostics_txt
        from telescope_data_pipeline_spark.sources.tables import ensure_read_confs

        out = self._fresh_out(spark)

        def materialise(df):
            df = df.cache()
            df.count()
            return df

        with tracer.span("campaign"):
            ensure_read_confs(spark)
            manifest = (spark.read.schema("filename string, epoch_id int")
                        .csv(os.path.join(self.images, "manifest.csv")))
            with tracer.span("sources.fits.scan"):
                images = materialise(scan_fits_dir(spark, self.images, manifest))
            st = run_photometry_pipeline(images, size=self.size)
            for key, name in [("fwhm", "operators.images.fwhm"),
                              ("detections", "operators.images.detect"),
                              ("shifts", "operators.images.shifts"),
                              ("stacked", "operators.images.stack"),
                              ("stacked_detections", "plans.pipeline.stacked_detect"),
                              ("psf_stars", "operators.photometry.psf_select"),
                              ("photometry", "operators.photometry.fit")]:
                with tracer.span(name):
                    st[key] = materialise(st[key])
            with tracer.span("operators.external.wcs"):
                wcs = materialise(solve_wcs(st["stacked_detections"]))
            for d in ("csv", "fits", "pdf", "txt"):
                os.makedirs(os.path.join(out, d), exist_ok=True)
            with tracer.span("sources.sinks.csv"):
                (st["photometry"].repartition("epoch_id").write.mode("overwrite")
                 .option("header", True).partitionBy("epoch_id")
                 .csv(os.path.join(out, "csv")))
            with tracer.span("sources.fits.write"):
                write_stacked_fits(images, st["stacked"], wcs,
                                   os.path.join(out, "fits")).count()
            with tracer.span("sources.pdf.write"):
                write_diagnostics_pdf(
                    os.path.join(out, "pdf", "diagnostics.pdf"),
                    images=st["stacked"].withColumn(
                        "filename", F.concat(F.lit("stacked_e"),
                                             F.col("epoch_id").cast("string"))))
            with tracer.span("sources.sinks.txt"):
                write_diagnostics_txt(st["stacked_detections"], st["psf_stars"],
                                      st["photometry"], st["fwhm"],
                                      os.path.join(out, "txt", "stats.txt"))
            st["photometry"].count()
            st["stacked"].select("epoch_id").distinct().count()
        return {"sources.sinks.bytes_written_mb": _dir_bytes(out) / 2**20}

    def checks(self, spark) -> list[tuple[str, bool]]:
        results, counts = [], []
        for out in self.outs:
            for sink, ok in checks.sink_checks(out, self.n_epochs).items():
                results.append((f"{os.path.basename(out)}:{sink}", ok))
            counts.append(sum(len(r) for r in checks.read_photometry(out).values()))
        found, planted = checks.stars_recovered(
            checks.read_photometry(self.outs[0]), self.truth["stars"])
        results.append((f"stars recovered {found}/{planted}", found == planted))
        results.append((f"photometry rows per pass {counts}",
                        len(set(counts)) == 1 and counts[0] > 0))
        return results


class Queries:
    """Registry queries over seeded tables, each built and executed with
    the noop sink."""

    def __init__(self, sf: float, names: list[str]):
        self.sf, self.names = sf, names
        self.items, self.item_name = len(names), "queries"

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = data.write_tables(os.path.join(work, "tables"), self.sf, seed)

    def _registry(self):
        from telescope_data_pipeline_spark.queries import all_queries
        return all_queries()

    def setup_pass(self, spark) -> PassResult:
        """The first pass collects every result for the output checks."""
        reg = self._registry()
        self.first: dict[str, checks.Digest | Exception] = {}
        res = PassResult(attempted=len(self.names))
        for name in self.names:
            try:
                self.first[name] = checks.digest(reg[name].fn(spark, self.sf_dir).toPandas())
            except Exception as e:
                print(f"perfbench: {name} failed: {e!r}", file=sys.stderr)
                self.first[name] = e
                res.failed += 1
        return res

    def before_pass(self, spark) -> None:
        pass

    def run_pass(self, spark) -> PassResult:
        reg = self._registry()
        res = PassResult(attempted=len(self.names))
        for name in self.names:
            t0 = time.perf_counter()
            try:
                reg[name].fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"perfbench: {name} failed: {e!r}", file=sys.stderr)
                res.failed += 1
                continue
            res.op_times.append(time.perf_counter() - t0)
        return res

    def traced_pass(self, spark, tracer) -> dict[str, float]:
        reg = self._registry()
        with tracer.span("queries"):
            for name in self.names:
                with tracer.span(name):
                    with tracer.span("queries.build"):
                        df = reg[name].fn(spark, self.sf_dir)
                    with tracer.span("queries.plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    with tracer.span("queries.exec"):
                        # The plan just made, run to its last row: the rows
                        # the noop sink iterates, without the write command
                        # planning the query a second time.
                        qe.toRdd().count()
        return {}

    def checks(self, spark) -> list[tuple[str, bool]]:
        reg = self._registry()
        results = []
        for name in self.names:
            got = self.first[name]
            if isinstance(got, Exception):
                results.append((f"{name}: first pass failed", False))
                continue
            if reg[name].oracle:
                try:
                    want = checks.oracle_digest(self.sf_dir, reg[name].oracle)
                except Exception as e:
                    print(f"perfbench: {name} oracle failed: {e!r}", file=sys.stderr)
                    want = None
                results.append((f"{name} vs oracle", got == want))
                continue
            try:
                again = checks.digest(reg[name].fn(spark, self.sf_dir).toPandas())
            except Exception as e:
                print(f"perfbench: {name} failed: {e!r}", file=sys.stderr)
                again = None
            results.append((f"{name} vs first pass", got == again))
        return results


WORKLOADS = {
    "campaign_256": lambda: Campaign(n_epochs=4, size=256, n_stars=40),
    "headline_sf0.01": lambda: Queries(0.01, HEADLINE),
}
