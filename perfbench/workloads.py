"""The workloads: the timed run, the per-run correctness gate, and the
isolated per-layer calls of the traced run."""

from __future__ import annotations

import json
from pathlib import Path

from . import checks
from .harness import fresh_dir
from .inputs import Inputs

# Every seed's documents hold pairs at 0.1 (5 to 61 over 29 seeds), so
# the graph step always iterates. At 0.15 one of those seeds holds none,
# at 0.3 seven of seeds 1-10 do (at bench.py's 0.5, more), and the
# step's cost then hinges on whether a rare pair exists.
JACCARD_THRESHOLD = 0.1


def committed_mb(out: Path) -> float:
    """Bytes of the committed output (data files and manifest; Hadoop's
    hidden ``.crc`` side files excluded), in MB."""
    return sum(
        p.stat().st_size
        for p in Path(out).rglob("*")
        if p.is_file() and not p.name.startswith(".")
    ) / 1e6


def noop(df) -> None:
    """Run ``df`` as an action that consumes every column."""
    df.write.format("noop").mode("overwrite").save()


class CurateModel:
    """``jobs/curate_job.py`` defaults: ``TableIO.read`` -> ``curate``
    (fused Arrow langid+perplexity UDF) -> ``run_resumable`` bucketed,
    manifest-committed write."""

    name = "curate_model"
    n_buckets = 16
    split_mb = 1  # write_corpus sizing that rotates files at this input size

    @staticmethod
    def config():
        from oscar_tools_spark.plans.pipeline import CurationConfig

        return CurationConfig()

    @staticmethod
    def observe_metrics():
        from pyspark.sql import functions as F

        return {
            "kept_turns": F.count(F.lit(1)),
            "scrubbed_turns": F.coalesce(
                F.sum((F.size(F.col("rule_hits")) > 0).cast("bigint")), F.lit(0)
            ),
        }

    def input_rows(self, inputs: Inputs) -> int:
        return inputs.reference["n_turns"]

    def _run_resumable(self, df, out: Path) -> dict:
        from oscar_tools_spark.plans.checkpoint import run_resumable
        from oscar_tools_spark.plans.pipeline import curate, model_versions_for

        cfg = self.config()
        return run_resumable(
            df,
            lambda part: curate(part, cfg),
            str(out),
            n_buckets=self.n_buckets,
            observe_metrics=self.observe_metrics(),
            model_versions=model_versions_for(cfg),
        )

    def run(self, spark, inputs: Inputs, out: Path) -> None:
        from oscar_tools_spark.sources.tables import TableIO

        self._run_resumable(TableIO(spark).read(inputs.transcripts), out)

    def check(self, spark, inputs: Inputs, out: Path) -> str | None:
        from oscar_tools_spark.plans.checkpoint import read_resumable_output

        hashes = checks.spark_row_hashes(
            read_resumable_output(spark, str(out)), "conv_id", "turn_idx", "text"
        )
        ref = inputs.reference["curate"]
        if len(hashes) != ref["kept"]:
            return f"kept {len(hashes)} rows, reference keeps {ref['kept']}"
        if checks.digest(hashes) != ref["digest"]:
            return "curated rows differ from the reference model"
        return None

    def layers(self, spark, inputs: Inputs, tracer, out: Path, scratch: Path) -> dict:
        """Isolated calls, each on the materialized output of the layer
        before it in the job (the filter runs before the annotations
        and the UDF because Catalyst pushes it to the scan). The
        expression langid and ``write_corpus`` are not on this job's
        path; they are timed here on the same rows so those layers stay
        measured."""
        from pyspark.sql import functions as F

        from oscar_tools_spark.functions.annotations import annotations_expr
        from oscar_tools_spark.functions.langid import identify_staged
        from oscar_tools_spark.operators.filter_tags import keep_expr_from_text
        from oscar_tools_spark.operators.scrub import rule_hits_expr, scrubbed_expr
        from oscar_tools_spark.plans.materialize import materialize
        from oscar_tools_spark.plans.pipeline import curate, fused_model_udf
        from oscar_tools_spark.sinks.writer import write_corpus
        from oscar_tools_spark.sources.tables import TableIO

        cfg = self.config()
        text = F.col("text")
        read = lambda: TableIO(spark).read(inputs.transcripts)  # noqa: E731
        keep = lambda df: df.filter(  # noqa: E731
            keep_expr_from_text(text, cfg.include, cfg.exclude, cfg.clean)
        )
        with tracer.span("sources.read"):
            noop(read())
        src = materialize(read())
        n_in = src.count()
        with tracer.span("operators.filter_tags"):
            noop(keep(src))
        kept = materialize(keep(src))
        n_kept = kept.count()
        with tracer.span("functions.annotations"):
            noop(kept.select(annotations_expr(text)))
        with tracer.span("functions.fused_model_udf"):
            noop(kept.select(fused_model_udf(cfg.langid_score_batch, cfg.ppl_score_batch)(text)))
        with tracer.span("functions.langid_staged"):
            noop(identify_staged(kept, "text"))
        with tracer.span("operators.scrub"):
            noop(kept.select(rule_hits_expr(text), scrubbed_expr(text)))
        n_hit = kept.filter(F.size(rule_hits_expr(text)) > 0).count()
        with tracer.span("plans.curate"):
            noop(curate(src, cfg))
        with tracer.span("plans.run_resumable"):
            manifest = self._run_resumable(src, fresh_dir(scratch / "run_resumable"))
        curated = materialize(curate(src, cfg))
        sink = scratch / "write_corpus"
        with tracer.span("sinks.write_corpus"):
            write_corpus(curated, str(sink), split_mb=self.split_mb)
        return {
            "operators.filter_tags.keep_ratio": n_kept / n_in,
            "operators.scrub.hit_ratio": n_hit / n_kept,
            "plans.run_resumable.buckets": len(manifest),
            "sinks.output_files": sum(1 for p in sink.glob("part-*")),
            "sinks.output_bytes_per_input_byte": committed_mb(sink) / committed_mb(Path(inputs.transcripts)),
        }


class DedupDocs:
    """The dedup tier over conversation documents: exact line and
    paragraph dedup, and n-gram Jaccard pairs -> connected components
    (the pairs passed on lazily, as the repo's callers do); every
    survivor set is committed with ``TableIO.write``. MinHash-LSH and
    SimHash-Hamming are timed in the traced pass only (see README)."""

    name = "dedup_docs"

    def input_rows(self, inputs: Inputs) -> int:
        return inputs.reference["n_docs"]

    def run(self, spark, inputs: Inputs, out: Path) -> None:
        from oscar_tools_spark.operators.components import dedup_components
        from oscar_tools_spark.operators.dedup import dedup_lines, dedup_paragraphs, jaccard_pairs
        from oscar_tools_spark.sources.tables import TableIO

        io = TableIO(spark)
        docs = io.read(inputs.documents)
        io.write(dedup_lines(docs, ["conv_id"]), str(out / "lines"))
        io.write(dedup_paragraphs(docs, ["conv_id"]), str(out / "paragraphs"))
        pairs = jaccard_pairs(docs, "conv_id", threshold=JACCARD_THRESHOLD)
        io.write(dedup_components(docs, pairs, "conv_id"), str(out / "components"))

    def pairs(self, spark, inputs: Inputs) -> list[tuple[str, str]]:
        """This seed's Jaccard pairs, from ``jaccard_pairs`` on its first
        use in this checkout and from a file beside the inputs after that."""
        from oscar_tools_spark.operators.dedup import jaccard_pairs
        from oscar_tools_spark.sources.tables import TableIO

        path = inputs.dir / f"pairs-{JACCARD_THRESHOLD}.json"
        if not path.exists():
            docs = TableIO(spark).read(inputs.documents)
            pairs = jaccard_pairs(docs, "conv_id", threshold=JACCARD_THRESHOLD)
            path.write_text(json.dumps(sorted(tuple(r) for r in pairs.select("key_a", "key_b").collect())))
        return [tuple(p) for p in json.loads(path.read_text())]

    def check(self, spark, inputs: Inputs, out: Path) -> str | None:
        ref = inputs.reference
        read = lambda step: spark.read.parquet(str(out / step))  # noqa: E731
        for step, cols in (
            ("lines", ("conv_id", "line_idx", "line")),
            ("paragraphs", ("conv_id", "text", "n_paras", "n_paras_kept")),
        ):
            hashes = checks.spark_row_hashes(read(step), *cols)
            if len(hashes) != ref[step]["rows"] or checks.digest(hashes) != ref[step]["digest"]:
                return f"dedup {step} differs from its twin"
        keys = set(ref["doc_keys"])
        survivors = [r[0] for r in read("components").select("conv_id").collect()]
        if not survivors or not set(survivors) <= keys or len(set(survivors)) != len(survivors):
            return "dedup components survivors are not a non-empty subset of the input"
        if set(survivors) != checks.component_survivors(keys, self.pairs(spark, inputs)):
            return "two component survivors share a component"
        # every run of a seed, in any process, must reproduce the
        # survivors of the seed's first run
        digest = checks.digest(survivors)
        stored = inputs.dir / f"dedup_survivors-{JACCARD_THRESHOLD}.json"
        if not stored.exists():
            stored.write_text(json.dumps(digest))
        elif json.loads(stored.read_text()) != digest:
            return "survivors differ from the first run of this seed"
        return None

    def layers(self, spark, inputs: Inputs, tracer, out: Path, scratch: Path) -> dict:
        """Isolated calls on the materialized documents (one split, as
        read). Survivor ratios of the timed steps come from the traced
        run's committed output in ``out``; MinHash and SimHash are not
        timed steps, so theirs are counted here."""
        from pyspark.sql import functions as F

        from oscar_tools_spark.operators.components import dedup_components
        from oscar_tools_spark.operators.dedup import (
            dedup_lines,
            dedup_minhash_lsh,
            dedup_paragraphs,
            dedup_simhash_hamming,
            jaccard_pairs,
        )
        from oscar_tools_spark.plans.materialize import materialize
        from oscar_tools_spark.sources.tables import TableIO

        with tracer.span("sources.read"):
            noop(TableIO(spark).read(inputs.documents))
        docs = materialize(TableIO(spark).read(inputs.documents))
        docs.count()
        with tracer.span("operators.dedup.lines"):
            noop(dedup_lines(docs, ["conv_id"]))
        with tracer.span("operators.dedup.paragraphs"):
            noop(dedup_paragraphs(docs, ["conv_id"]))
        with tracer.span("operators.dedup.minhash_lsh"):
            noop(dedup_minhash_lsh(docs, "conv_id"))
        n_minhash = dedup_minhash_lsh(docs, "conv_id").count()
        with tracer.span("operators.dedup.simhash_hamming"):
            noop(dedup_simhash_hamming(docs, "conv_id"))
        n_simhash = dedup_simhash_hamming(docs, "conv_id").count()
        with tracer.span("operators.dedup.jaccard_pairs"):
            noop(jaccard_pairs(docs, "conv_id", threshold=JACCARD_THRESHOLD))
        pairs = materialize(jaccard_pairs(docs, "conv_id", threshold=JACCARD_THRESHOLD))
        n_pairs = pairs.count()
        with tracer.span("operators.components"):
            noop(dedup_components(docs, pairs, "conv_id"))

        ref = inputs.reference
        rows = lambda step: spark.read.parquet(str(out / step)).count()  # noqa: E731
        kept_paras = spark.read.parquet(str(out / "paragraphs")).agg(F.sum("n_paras_kept")).first()[0]
        return {
            "operators.dedup.lines.survivor_ratio": rows("lines") / ref["n_lines"],
            "operators.dedup.paragraphs.survivor_ratio": kept_paras / ref["n_paras"],
            "operators.dedup.minhash_lsh.survivor_ratio": n_minhash / ref["n_docs"],
            "operators.dedup.simhash_hamming.survivor_ratio": n_simhash / ref["n_docs"],
            "operators.components.survivor_ratio": rows("components") / ref["n_docs"],
            "operators.dedup.jaccard_pairs.pairs": n_pairs,
        }


WORKLOADS = {w.name: w for w in (CurateModel, DedupDocs)}

