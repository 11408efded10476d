"""End-to-end training-data funnel with a per-stage token ledger.

A pretraining run audits its corpus as a FUNNEL: every document enters at
the top and each curation stage keeps or drops it; the artifact a data
team actually reviews is the per-stage ledger — documents and tokens in,
kept, and (implicitly) dropped — plus the final packed-sequence count the
trainer will consume.  (GPT-3 Appendix A and the Gopher/MassiveText
papers both publish exactly this table.)  The reference crawler has no
analogue; this is the engine's training-data-pipeline composition
(VERDICT r4 next #7): it chains ONLY existing oracle-exact primitives —

    1. exact_dedup     first-writer-wins on the whitespace-normalized
                       lowercase md5 fingerprint (operators/dedup.py
                       exact_groups / text.fingerprint semantics)
    2. quality_gate    integer linear classifier logit ≥ 0
                       (text.classifier_quality_filter)
    3. decontaminate   drop the eval split itself (doc_id % eval_mod == 0
                       plays the benchmark suite) and every corpus doc
                       sharing an 8-token window with it
                       (operators/decontaminate.py)
    4. mixture_quota   temperature-smoothed per-language quotas, picks
                       ordered by md5(doc_id) (operators/sampling.py)
    5. packing         fixed seq_len context-window packing of the
                       survivors, grouped per source stream
                       (operators/packing.py)

Output: 5 rows, one per stage —
    (stage_idx, stage, docs_in, docs_kept, tokens_in, tokens_kept,
     n_seqs, pad_tokens)
where n_seqs/pad_tokens are 0 except on the packing row (packing drops
nothing; it reports what the trainer consumes).

Scale shape (100 TB): every stage is the already-audited primitive — one
hash shuffle for the dedup groupBy, a codegen-only scan for the quality
gate, a broadcast eval-gram semi-join for decontamination, a salted
window + broadcast quota table for the mixture, one group-key shuffle for
packing.  The ledger itself adds only 1-row aggregates combined via
broadcast cross-joins.  Stage frames are persisted so the five ledger
branches don't rescan the corpus once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def token_ledger(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    eval_mod: int = 20,
    n_gram: int = 8,
    n_total: int = 200,
    seq_len: int = 512,
) -> DataFrame:
    """Per-stage (docs, tokens) funnel ledger — see module docstring.
    ``docs`` must carry a ``source`` column: packing groups by it."""
    from nrsr_crawler_spark.operators.decontaminate import decontaminate
    from nrsr_crawler_spark.operators.packing import packing_stats, seq_packing
    from nrsr_crawler_spark.operators.sampling import temperature_mixture_sample
    from nrsr_crawler_spark.operators.text import classifier_quality_filter, token_count

    base = docs.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("source"),
        F.col(text_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).persist()

    # 1. exact dedup — min-id winner per normalized fingerprint
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    keep1 = (
        base.select(F.col(id_col), F.md5(norm).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    s1 = base.join(keep1, id_col).persist()

    # 2. quality gate — integer classifier logit ≥ 0
    q = classifier_quality_filter(s1.select(id_col, text_col), id_col, text_col)
    s2 = s1.join(q.filter(F.col("keep")).select(id_col), id_col).persist()

    # 3. decontamination — eval split dropped outright; corpus docs sharing
    # an n-gram window with it dropped too
    eval_set = docs.filter(F.pmod(F.col(id_col), F.lit(eval_mod)) == 0).select(
        id_col, text_col
    )
    corpus = s2.filter(F.pmod(F.col(id_col), F.lit(eval_mod)) != 0)
    dec = decontaminate(
        corpus.select(id_col, text_col), eval_set, id_col, text_col, n=n_gram
    )
    s3 = corpus.join(
        dec.filter(F.col("contaminated") == 0).select(id_col), id_col
    ).persist()

    # 4. temperature-smoothed mixture quota over the SURVIVING population
    picks = temperature_mixture_sample(
        s3.select(id_col, lang_col), id_col, lang_col, n_total=n_total
    )
    s4 = s3.join(picks.select(id_col), id_col).persist()

    # 5. packing — per-source streams, fixed seq_len windows
    man = seq_packing(
        s4.select(id_col, "source", text_col), seq_len, id_col, text_col
    )
    pack = packing_stats(man, seq_len).agg(
        F.coalesce(F.sum("n_seqs"), F.lit(0)).cast("long").alias("n_seqs"),
        F.coalesce(F.sum("tail_padding"), F.lit(0)).cast("long").alias("pad_tokens"),
    )

    def metrics(df: DataFrame, d: str, t: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(d),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(t),
        )

    zero = F.lit(0).cast("long")
    stages = [
        (1, "exact_dedup", base, s1),
        (2, "quality_gate", s1, s2),
        (3, "decontaminate", s2, s3),
        (4, "mixture_quota", s3, s4),
        (5, "packing", s4, s4),
    ]
    rows = []
    for idx, name, df_in, df_out in stages:
        row = metrics(df_in, "docs_in", "tokens_in").crossJoin(
            broadcast(metrics(df_out, "docs_kept", "tokens_kept"))
        )
        if name == "packing":
            row = row.crossJoin(broadcast(pack))
            seqs, pad = F.col("n_seqs"), F.col("pad_tokens")
        else:
            seqs, pad = zero, zero
        rows.append(
            row.select(
                F.lit(idx).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                "docs_in",
                "docs_kept",
                "tokens_in",
                "tokens_kept",
                seqs.alias("n_seqs"),
                pad.alias("pad_tokens"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
