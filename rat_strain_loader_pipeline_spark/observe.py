"""Run-log / counter sink (K7 in SURVEY.md §2.2).

The reference threads hand-incremented counters through every tool and
dumps them per run (rows inserted / already-in-RGD / skipped / bad —
VariantLoad3.java:154-168, VcfToCommonFormat2Converter.java:359-374)
plus SYSTEM_LOG rows (VariantProcessingBase.java:64-75).

Spark-first: ``DataFrame.observe`` attaches metric expressions to the
plan — they aggregate DURING the action that consumes the DataFrame
(map-side, zero extra passes), unlike a separate ``.count()`` which
re-executes upstream. ``run_log_row`` then renders the collected
metrics as a SYSTEM_LOG-shaped row.

Callers, each observing on the write that lands the rows:

- ``pipelines.fixups._apply``: rows total and fixed, on the write that
  commits the patched table;
- ``store.compact_table``: the rows, on the write that commits the
  compacted table;
- ``pipelines.load.load_variants``: rows in, rows already in RGD and the
  new-id span, on the ``load-with-ids`` stage write;
- ``cli._counted``: the ``rows=`` (VcfConverter2),
  ``variant_transcript_rows=`` (VariantPostProcessing) and
  ``candidates=`` (Polyphen) counts, on the output write;
- the ``load_counters`` engine query (``__spark_entry__``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def with_counters(df: DataFrame, name: str, **metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named metric expressions to ``df``'s plan.

    Returns (df', observation); read ``observation.get`` AFTER an action
    has consumed df'. Metrics piggyback on the action — no second pass.
    """
    obs = Observation(name)
    out = df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
    return out, obs


def run_log_row(observation: Observation, event: str) -> dict:
    """SYSTEM_LOG-shaped record from a consumed observation."""
    vals = dict(observation.get)
    return {"event": event, **vals}
