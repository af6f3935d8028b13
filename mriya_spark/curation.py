"""Curation recipes: a declarative spec -> one lazy curation plan.

The reference's engine is "a JSON document compiled to a data plan"
(`/root/reference/mapping_parser.py` — mapping doc -> SOQL + dict
loops; restated in ``mriya_spark.mapping``). This module gives the
training-data pipeline the same product shape: a JSON-able spec
naming quality filters, dedup stages, and output columns, compiled to
one DataFrame DAG built from the ops library (``ops.text``,
``ops.dedup``). Invalid specs fail at load time with the offending
stage named — same contract as ``MappingSpec`` (where_condition
validation).

Spec form::

    {
      "filters": [
        {"type": "quality", "min_score": 0.5},
        {"type": "gopher"},
        {"type": "lang", "keep": ["en", "de"]},
        {"type": "token_range", "min": 5, "max": 100000},
        {"type": "group_quota", "group_col": "lang_pred", "quota": 1000},
        {"type": "weighted_sample", "weight_col": "quality_score"}
      ],
      "dedup": [
        {"type": "exact"},
        {"type": "minhash_lsh", "threshold": 0.6},  # or "ngram_jaccard"
        {"type": "substring", "k": 8, "min_span": 16}  # span-level
      ],
      "emit": [
        {"type": "oversample", "group_col": "lang_pred",
         "weights": {"en": 2.5, "de": 1.4}, "default": 0.3}
      ],
      "output": ["doc_id", "lang_pred", "n_tokens", "quality_score"]
    }

Filter/dedup stages run in spec order; ``emit`` stages run AFTER
dedup (epoch oversampling before dedup would just create exact
duplicates for the dedup stage to collapse). Scale shape mirrors
``_curate`` (``qchunks/c02_unicode_pretokenization_r12_judge_direct.py``):
scoring is inline in the scan projection, exact dedup is one
fingerprint shuffle, near-dup stages shingle once into a
scope-cached frame that serves candidates and the final anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mriya_spark.caching import cache_scope, scoped_persist

_FILTER_TYPES = {
    "quality",
    "gopher",
    "lang",
    "token_range",
    "group_quota",
    "weighted_sample",
    "classifier",
    "domain_quota",
}
_DEDUP_TYPES = {"exact", "minhash_lsh", "ngram_jaccard", "substring"}
_EMIT_TYPES = {"oversample"}

#: columns the scoring projection can emit
_DERIVED = {"lang_pred", "n_tokens", "quality_score"}


class CurationSpec:
    def __init__(
        self,
        *,
        filters: list[dict],
        dedup: list[dict],
        output: list[str],
        emit: list[dict] | None = None,
    ):
        for f in filters:
            if f.get("type") not in _FILTER_TYPES:
                raise ValueError(
                    f"unknown filter type {f.get('type')!r}; "
                    f"supported: {sorted(_FILTER_TYPES)}"
                )
            if f["type"] == "lang" and not f.get("keep"):
                raise ValueError("lang filter needs a non-empty 'keep' list")
            if f["type"] == "group_quota" and not (
                f.get("group_col") and int(f.get("quota", 0)) > 0
            ):
                raise ValueError(
                    "group_quota filter needs 'group_col' and a positive 'quota'"
                )
            if f["type"] == "domain_quota" and not (
                f.get("url_col") and int(f.get("quota", 0)) > 0
            ):
                raise ValueError(
                    "domain_quota filter needs 'url_col' and a positive 'quota'"
                )
        for d in dedup:
            if d.get("type") not in _DEDUP_TYPES:
                raise ValueError(
                    f"unknown dedup type {d.get('type')!r}; "
                    f"supported: {sorted(_DEDUP_TYPES)}"
                )
        for e in emit or []:
            if e.get("type") not in _EMIT_TYPES:
                raise ValueError(
                    f"unknown emit type {e.get('type')!r}; "
                    f"supported: {sorted(_EMIT_TYPES)}"
                )
            if e["type"] == "oversample":
                has_wcol = bool(e.get("weight_col"))
                has_map = bool(e.get("weights")) or bool(e.get("group_col"))
                if has_wcol and has_map:
                    raise ValueError(
                        "oversample takes EITHER 'weight_col' OR "
                        "'group_col'+'weights', not both"
                    )
                if not has_wcol and not (
                    e.get("group_col") and e.get("weights")
                ):
                    raise ValueError(
                        "oversample needs 'weight_col' or 'group_col'+'weights'"
                    )
        bad = [c for c in output if c not in _DERIVED and not c.isidentifier()]
        if bad or not output:
            raise ValueError(f"bad output columns: {bad or output}")
        self.filters = filters
        self.dedup = dedup
        self.emit = list(emit or [])
        self.output = output

    @classmethod
    def from_obj(cls, obj: dict) -> "CurationSpec":
        return cls(
            filters=list(obj.get("filters", [])),
            dedup=list(obj.get("dedup", [])),
            emit=list(obj.get("emit", [])),
            output=list(obj.get("output", ["doc_id"])),
        )

    # -- compilation -----------------------------------------------------
    def build(self, corpus: DataFrame, *, text_col: str = "text") -> DataFrame:
        """Compile to one lazy plan over ``corpus`` (needs ``doc_id``
        and ``text_col``; a ``lang`` column if a lang filter is used)."""
        from mriya_spark.ops import dedup as D
        from mriya_spark.ops import text as T

        with cache_scope():
            # one scoring projection: every derived column the filters
            # or the output need, computed inline at the scan
            cols = [F.col(c) for c in corpus.columns]
            cols += [
                T.token_count(F.col(text_col)).alias("n_tokens"),
                T.quality_score_col(text_col).alias("quality_score"),
                T.lang_pred(text_col).alias("lang_pred"),
            ]
            df = corpus.select(*cols)
            for f in self.filters:
                df = self._apply_filter(df, f, text_col, T)
            for d in self.dedup:
                df = self._apply_dedup(df, d, text_col, D)
            for e in self.emit:
                df = self._apply_emit(df, e)
            return df.select(*self.output)

    @staticmethod
    def _apply_emit(df: DataFrame, e: dict) -> DataFrame:
        # only "oversample" today (validated in __init__): replicate
        # rows by per-group epoch weights AFTER dedup
        from mriya_spark.ops.quality import oversample_epochs

        if e.get("weights"):
            expr = F.lit(float(e.get("default", 1.0)))
            for gval, wt in sorted(e["weights"].items()):
                expr = F.when(
                    F.col(e["group_col"]) == gval, F.lit(float(wt))
                ).otherwise(expr)
            df = df.withColumn("__epoch_w", expr)
            wcol = "__epoch_w"
        else:
            wcol = e["weight_col"]
        out = oversample_epochs(
            df,
            weight_col=wcol,
            key_col=e.get("key_col", "doc_id"),
            seed=int(e.get("seed", 77)),
            max_copies=int(e.get("max_copies", 16)),
        )
        return out.drop("__epoch_w") if e.get("weights") else out

    @staticmethod
    def _apply_filter(df: DataFrame, f: dict, text_col: str, T) -> DataFrame:
        kind = f["type"]
        if kind == "quality":
            return df.filter(
                F.col("quality_score") >= float(f.get("min_score", 0.5))
            )
        if kind == "gopher":
            sig = T.repetition_signals(df.select("doc_id", text_col), text_col)
            keep = sig.filter(~F.col("gopher_flagged")).select("doc_id")
            return df.join(keep, on="doc_id", how="left_semi")
        if kind == "lang":
            return df.filter(F.col("lang_pred").isin(list(f["keep"])))
        if kind == "group_quota":
            from mriya_spark.ops.quality import per_group_quota

            return per_group_quota(
                df,
                group_col=f["group_col"],
                key_col=f.get("key_col", "doc_id"),
                quota=int(f["quota"]),
                seed=int(f.get("seed", 42)),
            ).drop("grp_rank")
        if kind == "domain_quota":
            # per-domain cap (C4/FineWeb): parse_url host extraction is
            # scan-local; the quota is one hash exchange on the domain.
            # Collision safety (r9 ADVICE): crawl corpora commonly carry
            # their own 'domain' column — stash any caller column that
            # shares an appended stat name, cap, then restore, so user
            # data is never overwritten by url_host or dropped.
            from mriya_spark.ops.quality import domain_quota

            internal = ("domain", "domain_total", "grp_rank")
            stash = {c: f"__dq_{c}" for c in internal if c in df.columns}
            work = df
            for c, tmp in stash.items():
                work = work.withColumnRenamed(c, tmp)
            out = domain_quota(
                work,
                url_col=stash.get(f["url_col"], f["url_col"]),
                key_col=f.get("key_col", "doc_id"),
                quota=int(f["quota"]),
                seed=int(f.get("seed", 42)),
            ).drop(*internal)
            for c, tmp in stash.items():
                out = out.withColumnRenamed(tmp, c)
            return out
        if kind == "classifier":
            # hashed linear quality classifier (ops.text.classifier_score):
            # scan-local scoring against an int-quantized weight vector;
            # weights default to the deterministic md5-derived stand-in so
            # recipes are reproducible without shipping a model file.
            # The gate compares the EXACT integer state (s_int >=
            # thr*scale*n_grams, one float product of identical operands)
            # rather than the 6dp-rounded score: rounding maps tiny
            # negative scores to -0.0, which passes a >= 0.0 gate and
            # silently diverges from any exact restatement (r9 review)
            w = f.get("weights") or T.hashed_clf_weights()
            thr = float(f.get("min_score", 0.0))
            scored = T.classifier_score(
                df, w, text_col=text_col, out_col="__clf",
                keep_components=True,
            )
            keep = F.when(
                F.col("__clf_n_grams") > 0,
                F.col("__clf_s_int").cast("double")
                >= F.lit(thr * T.CLF_WEIGHT_SCALE) * F.col("__clf_n_grams"),
            ).otherwise(F.lit(0.0 >= thr))
            return scored.filter(keep).drop(
                "__clf", "__clf_s_int", "__clf_n_grams"
            )
        if kind == "weighted_sample":
            from mriya_spark.ops.quality import weighted_sample

            return weighted_sample(
                df,
                weight_col=f.get("weight_col", "quality_score"),
                key_col=f.get("key_col", "doc_id"),
                seed=int(f.get("seed", 42)),
            )
        # token_range
        lo, hi = int(f.get("min", 1)), int(f.get("max", 1 << 31))
        return df.filter(F.col("n_tokens").between(lo, hi))

    @staticmethod
    def _apply_dedup(df: DataFrame, d: dict, text_col: str, D) -> DataFrame:
        from pyspark.sql import Window

        kind = d["type"]
        if kind == "exact":
            w = Window.partitionBy(F.md5(D.normalized(text_col)))
            return (
                df.withColumn("__keep", F.min("doc_id").over(w))
                .filter(F.col("doc_id") == F.col("__keep"))
                .drop("__keep")
            )
        if kind == "substring":
            # span-level: drop the larger doc of any pair sharing a
            # >= min_span-token run (doc-level removal policy; span
            # surgery is a text transform upstream of tokenization)
            pairs = D.substring_span_pairs(
                df.select("doc_id", text_col),
                text_col=text_col,
                k=int(d.get("k", 8)),
                min_span=d.get("min_span"),
                max_gram_df=d.get("max_gram_df"),
            )
            drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
            return df.join(drop, on="doc_id", how="left_anti")
        # near-dup stages: shingle once (scope-cached), drop the larger
        # id of every pair over the threshold
        thr = float(d.get("threshold", 0.6))
        sh = scoped_persist(
            D.add_shingle_hashes(df.select("doc_id", text_col), text_col)
            .select("doc_id", "shingles")
        )
        if kind == "minhash_lsh":
            pairs = D.minhash_lsh_pairs_from_shingles(sh, threshold=thr)
        else:
            pairs = D.ngram_jaccard_pairs_from_shingles(
                sh, threshold=thr,
                max_shingle_df=d.get("max_shingle_df"),
            )
        drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return df.join(drop, on="doc_id", how="left_anti")
