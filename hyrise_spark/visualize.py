"""Graphviz plan visualization — the reference's visualizer family
(`src/lib/visualization/{lqp,pqp}_visualizer.hpp`, console `visualize`
command) re-expressed over Catalyst plan trees.

The reference shells out to graphviz to render PNG/SVG; here the primary
artifact is the DOT text itself (dependency-free, diffable, committable) and
rendering is delegated to a `dot` binary only if one is installed. Matching
the reference's two levels:

  lqp  -> the optimized logical plan (the reference's LQPVisualizer)
  pqp  -> the physical SparkPlan     (the reference's PQPVisualizer)

Like the reference's edge annotations (row counts / data flow,
abstract_visualizer.hpp), edges are labeled with Catalyst's size/row
estimates where the plan carries them.
"""

from __future__ import annotations

import shutil
import subprocess
from pyspark.sql import DataFrame


def _escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        if n < 1024 or unit == "TiB":
            return f"{n:.0f} {unit}" if unit == "B" else f"{n:.1f} {unit}"
        n /= 1024.0
    return f"{n} B"


def _logical_stats(node) -> str:
    try:
        stats = node.stats()
        # py4j converts scala.math.BigInt to a Python int
        label = _fmt_bytes(int(stats.sizeInBytes()))
        rc = stats.rowCount()
        if rc.isDefined():
            label = f"{int(rc.get())} rows / {label}"
        return label
    except Exception:
        return ""


def plan_dot(df: DataFrame, which: str = "pqp") -> str:
    """Render a DataFrame's plan as graphviz DOT. `which`: 'pqp' (physical
    SparkPlan) or 'lqp' (optimized logical plan). Data flows bottom-up
    (rankdir BT), one box per operator, edge labels = Catalyst's cardinality
    estimates on the logical plan (physical nodes don't re-expose them)."""
    qe = df._jdf.queryExecution()
    if which == "lqp":
        root = qe.optimizedPlan()
    elif which == "pqp":
        root = qe.executedPlan()
    else:
        raise ValueError(f"visualize: unknown plan level {which!r} (use lqp|pqp)")

    lines = [
        "digraph plan {",
        "  rankdir=BT;",
        '  node [shape=box, fontname="Courier", fontsize=10];',
        '  edge [fontname="Courier", fontsize=9];',
    ]
    counter = [0]

    def walk(node) -> int:
        nid = counter[0]
        counter[0] += 1
        name = node.nodeName()
        detail = node.simpleStringWithNodeId() if hasattr(node, "simpleStringWithNodeId") else ""
        label = _escape(name if not detail else detail[:160])
        lines.append(f'  n{nid} [label="{label}"];')
        if name == "AdaptiveSparkPlan":
            # AQE root holds its subtree out-of-band (children() is empty);
            # visualize the initial plan — the final one only exists after
            # execution, and visualize must stay explain-only.
            cid = walk(node.initialPlan())
            lines.append(f"  n{cid} -> n{nid};")
            return nid
        kids = node.children()
        for i in range(kids.size()):
            child = kids.apply(i)
            cid = walk(child)
            edge_label = _logical_stats(child) if which == "lqp" else ""
            attr = f' [label="{_escape(edge_label)}"]' if edge_label else ""
            lines.append(f"  n{cid} -> n{nid}{attr};")
        return nid

    walk(root)
    lines.append("}")
    return "\n".join(lines)


def write_plan_image(df: DataFrame, path: str, which: str = "pqp") -> str:
    """Write DOT to `path`; if a graphviz `dot` binary exists AND `path` ends
    in .png/.svg/.pdf, render through it (the reference's GraphvizConfig
    render modes). Returns the path actually written."""
    dot = plan_dot(df, which)
    ext = path.rsplit(".", 1)[-1].lower()
    renderer = shutil.which("dot")
    if renderer and ext in ("png", "svg", "pdf"):
        subprocess.run(
            [renderer, f"-T{ext}", "-o", path], input=dot.encode(), check=True
        )
        return path
    out = path if ext == "dot" else f"{path}.dot"
    with open(out, "w") as fh:
        fh.write(dot)
    return out


def visualize_sql(engine, sql: str, which: str = "pqp") -> str:
    """Console entry: build the query through the Engine's router (so
    dialect statements, views and meta tables resolve as they run) and
    return DOT text. The router runs what it is given, so anything but one
    query is refused before it runs (Engine.query_statement)."""
    return plan_dot(engine.execute(engine.query_statement(sql)), which)
