"""Physical-plan audit: dump scan/exchange/codegen shape for every
``queries()`` entry into PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]

For each query the audit records:
- parquet scans (a query re-scanning one source N times is a red flag
  unless the fixture itself is a union);
- exchanges with their partitioning keys (every exchange is a shuffle
  — the fewer, and the more key-aligned, the better the 100-TB story);
- broadcast exchanges (small sides must broadcast, not shuffle);
- WholeStageCodegen spans (JVM-compiled expression work; Python only
  appears for the two mapInPandas operators by design).

Streaming-parity queries are skipped: their plan is per-micro-batch
and not visible from a static explain.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_DIR)

import __spark_entry__ as entrymod
from marketing_attribution_etl_framework__maef_spark.session import get_spark

SKIP = {
    # streaming queries materialize through a sink; explain() on the
    # returned batch handle shows the memory-table scan, not the job
    "maef_stream_attribution",
    "maef_stream_windowed_volume",
    "maef_stream_journey_join",
    "maef_stream_cms",
    # side-effecting roundtrip: the returned summary plan is not the
    # interesting part (the write/copy/verify path is)
    "maef_warehouse_roundtrip",
}


def audit(sf_dir: str) -> str:
    spark = get_spark("plan-audit")
    rows = []
    for name, fn in entrymod.queries().items():
        if name in SKIP:
            rows.append((name, "-", "-", "-", "-", "streaming/side-effecting — skipped"))
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        scans = len(re.findall(r"Scan parquet", plan))
        ex_keys = re.findall(r"hashpartitioning\((\w+)", plan)
        # count Exchange NODES, not hashpartitioning mentions: a
        # ReusedExchange prints the partitioning again but is one
        # runtime shuffle, not two (e.g. the funnel's shared user_id
        # exchange would otherwise count once per consumer)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        n_reuse = len(re.findall(r"\(\d+\) ReusedExchange", plan))
        n_bcast = len(re.findall(r"BroadcastExchange", plan))
        n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        n_py = len(re.findall(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan))
        notes = []
        if n_py:
            notes.append("mapInPandas (by design)")
        if n_reuse:
            notes.append(f"{n_reuse} ReusedExchange")
        rows.append(
            (name, str(scans), f"{n_ex} ({','.join(dict.fromkeys(ex_keys)) or '-'})",
             str(n_bcast), str(n_wsc), "; ".join(notes))
        )

    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Input: `{sf_dir}`. Exchange keys are deduplicated per query.",
        "",
        "Reading notes:",
        "- One `doc_id` exchange per llm_* query is the `_docs`/`_embs`",
        "  harness repartition (the shipped parquet is 1-3 splits; at real",
        "  scale the input is already split and the exchange disappears).",
        "- Dedup queries re-scan sources across self-join branches on",
        "  purpose: A/B measurement showed persisting the cheap-to-recompute",
        "  signatures SERIALIZES branch scans AQE runs in parallel (see",
        "  llm/dedup.py header). 0-scan rows are localCheckpoint-fed",
        "  (curate, clusters) — the lineage was materialized by design.",
        "- `events` scans resolve against the per-session cache",
        "  (domain.events), so repeated scans of it are cache reads.",
        "- Iterative driver-loop queries (llm_bpe_*, llm_ann_kmeans,",
        "  maef_markov_removal) show near-empty static plans: their work is",
        "  a bounded sequence of tiny-table jobs whose wall time is plan",
        "  analysis + job latency, CONSTANT in corpus size (the corpus-",
        "  scale part is the one aggregation that feeds the loop).",
        "- Exchange counts are STATIC plan nodes; AQE's runtime exchange",
        "  reuse (identical subplans collapse to one shuffle, e.g. the",
        "  funnel's shared user_id repartition) is not visible here, so",
        "  multi-consumer queries overstate their real shuffle count.",
        "",
        "| query | parquet scans | exchanges (keys) | broadcasts | codegen spans | note |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(r) + " |")
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = audit(sf_dir)
    with open(os.path.join(_REPO_DIR, "PLANS.md"), "w") as f:
        f.write(out)
    print(out)
