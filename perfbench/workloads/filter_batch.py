"""filter_batch: ``quality_filter`` over a seeded caption table, sunk to a
sink that writes nothing. Map-only: the per-row Column expressions and the
perplexity pandas-UDF hop do the work, with no shuffle. Its traced layers
also cover the bucketed runner over the same table (``runner_layer``) and
the corpus dedup job (``dedup_layer``), the other two curation stages."""

from __future__ import annotations

import os
import random

from harness import CORES, median

from . import Workload
from .dedup_layer import LEGS as DEDUP_LEGS
from .dedup_layer import METRICS as DEDUP_METRICS
from .dedup_layer import dedup_from_legs, trace_dedup
from .runner_layer import LEGS as RUNNER_LEGS
from .runner_layer import METRICS as RUNNER_METRICS
from .runner_layer import runner_from_legs, trace_runner


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class FilterBatch(Workload):
    name = "filter_batch"
    ROWS = 40_000
    GOLDEN_SAMPLE = 4_000
    min_calls = 8
    layers = {
        "functions.perplexity.busy_s": "s",
        "functions.perplexity.python_run_s": "s",
        "functions.perplexity.python_boot_s": "s",
        "functions.perplexity.bytes_to_python": "bytes",
        "functions.perplexity.bytes_from_python": "bytes",
        "functions.langid.busy_s": "s",
        "functions.scrub.busy_s": "s",
        "pipeline.quality_filter.busy_s": "s",
        "pipeline.quality_filter.no_ppl_busy_s": "s",
        "pipeline.quality_filter.fusion_gap_s": "s",
        **RUNNER_METRICS,
        **DEDUP_METRICS,
    }
    legs = {"filter": "leg.filter", **RUNNER_LEGS, **DEDUP_LEGS}

    def __init__(self, bench):
        super().__init__(bench)
        self.n = self.rows = max(200, int(self.ROWS * bench.scale))
        self.parts = 2 * CORES
        self.path = bench.new_dir("images")
        self.pdf = None
        self.df = None

    def generate(self) -> None:
        from xoverrr_spark.fixtures.images import generate_images_pdf

        # every caption category, no image payload
        self.pdf = generate_images_pdf(self.n, self.b.seed, with_bytes=False)
        os.makedirs(self.path, exist_ok=True)
        self.pdf.to_parquet(os.path.join(self.path, "part-0.parquet"), index=False)

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.path).repartition(self.parts).cache()
        self.df.count()

    def inputs(self) -> list:
        return [self.df]

    def primary(self, with_ppl: bool = True) -> None:
        from xoverrr_spark.pipeline.quality_filter import quality_filter

        _noop(quality_filter(self.df, with_ppl=with_ppl))

    def warm(self) -> None:
        # the first calls in a JVM are still compiling: a call takes about
        # 2.0 s after two of them and 1.5-1.7 s after eight
        for _ in range(4):
            self.primary()

    def warm_core(self) -> None:
        # two are enough to compare traced and untraced calls, which sit at
        # the same place on the curve
        self.primary()
        self.primary()

    def check(self) -> None:
        """Decisions against the independent golden labeler on a seeded
        sample: keep F1 >= 0.99 and exact ``caption_scrubbed``."""
        from xoverrr_spark.fixtures.labeler import label_frame
        from xoverrr_spark.pipeline.quality_filter import quality_filter

        dec = self.b.op(
            lambda: quality_filter(self.df)
            .select("image_id", "keep", "caption_scrubbed").toPandas()
        )
        if dec is None:
            self.b.gate("filter.decisions", False)
            return
        self.b.gate("filter.row_count", len(dec) == self.n)
        k = min(self.n, self.GOLDEN_SAMPLE)
        rows = sorted(random.Random(self.b.seed).sample(range(self.n), k))
        gold = label_frame(self.pdf.iloc[rows])
        got = dec.set_index("image_id").loc[gold["image_id"]]
        tp = int((got["keep"].to_numpy() & gold["keep"].to_numpy()).sum())
        p = tp / max(int(got["keep"].sum()), 1)
        r = tp / max(int(gold["keep"].sum()), 1)
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        self.b.notes["filter_keep_f1"] = f1
        self.b.gate("filter.keep_f1", f1 >= 0.99)
        self.b.gate(
            "filter.caption_scrubbed_exact",
            (got["caption_scrubbed"].to_numpy() == gold["caption_scrubbed"].to_numpy()).all(),
        )

    def trace(self) -> tuple[dict, list[float]]:
        from pyspark.sql import functions as F
        from xoverrr_spark.functions.langid import lang_columns
        from xoverrr_spark.functions.quality import norm_caption
        from xoverrr_spark.functions.scrub import scrub_caption
        from xoverrr_spark.pipeline.quality_filter import ppl_udf

        b = self.b
        self.warm_core()
        # the traced calls of the main operation come first after warm-up,
        # at the same position as the untraced ones they are compared with
        traced = [b.timed(self.primary)[0] for _ in range(self.trace_reps - 1)]
        with b.job_group("filter"):
            traced.append(b.timed(self.primary)[0])
        traced = [w for w in traced if w is not None]
        norm = self.df.select(norm_caption(F.col("caption")).alias("c")).cache()
        norm.count()
        c = F.col("c")
        lang, conf = lang_columns(c)
        legs = {
            "functions.perplexity.busy_s": lambda: _noop(norm.select(ppl_udf(c))),
            "functions.langid.busy_s": lambda: _noop(norm.select(lang, conf)),
            "functions.scrub.busy_s": lambda: _noop(norm.select(scrub_caption(c))),
            "pipeline.quality_filter.no_ppl_busy_s": lambda: self.primary(with_ppl=False),
        }
        out = {"pipeline.quality_filter.busy_s": median(traced)}
        for metric, fn in legs.items():
            out[metric] = b.timed(fn)[0] or 0.0  # a failed call is counted
        out["pipeline.quality_filter.fusion_gap_s"] = out["pipeline.quality_filter.busy_s"] - sum(
            out[f"functions.{m}.busy_s"] for m in ("perplexity", "langid", "scrub"))
        out.update(trace_runner(b, self.path, self.n))
        out.update(trace_dedup(b, b.scale))
        return out, traced

    def from_legs(self, legs: dict, metrics: dict) -> None:
        super().from_legs(legs, metrics)
        runner_from_legs(legs, metrics)
        dedup_from_legs(legs, metrics)
        leg = legs.get("filter", {})
        for key in ("python_run_s", "python_boot_s", "bytes_to_python", "bytes_from_python"):
            metrics[f"functions.perplexity.{key}"] = leg.get(key, 0.0)
