"""Output checks. A check that fails marks its operation as failed."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FINGERPRINTS = Path(__file__).with_name("fingerprints.json")
# lowest pairwise F1 against the planted truth that counts as a correct
# result, on every seed
F1_FLOOR = 0.99


def cluster_hash(clusters: DataFrame) -> str:
    """Order-free hash of the (label, cluster_id) rows: the sum of their
    xxhash64 values modulo 2^64 (decimal sum: a long sum overflows under
    ANSI mode)."""
    total = clusters.agg(F.coalesce(F.sum(
        F.xxhash64("label", "cluster_id").cast("decimal(38,0)")),
        F.lit(0)).alias("h")).collect()[0]["h"]
    return f"{int(total) % (1 << 64):016x}"


def fingerprint(n_labels: int, n_pairs: int, n_edges: int,
                clusters: DataFrame) -> str:
    n_clusters = clusters.select("cluster_id").distinct().count()
    return (f"L{n_labels}-P{n_pairs}-E{n_edges}-C{n_clusters}-"
            f"{cluster_hash(clusters)}")


def result_fingerprint(res) -> str:
    """Fingerprint of a resolve() result whose labels, scored pairs and
    clusters are cached (reads them; adds no work to a timed region)."""
    return fingerprint(res.labels.count(), res.pairs_scored.count(),
                       res.edges.count(), res.clusters)


def recorded_fingerprint(workload: str, size: str, seed: int) -> str | None:
    table = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}
    return table.get(workload, {}).get(size, {}).get(str(seed))


def fingerprint_ok(found: str, recorded: str | None) -> bool:
    """A fingerprint passes when it equals the value recorded for the
    seed. A seed with no recorded value passes here; truth_problems
    still checks it against the planted truth."""
    return recorded is None or found == recorded


def truth_problems(clusters: DataFrame, truth_pdf, f1: float,
                   planted: bool = True) -> list[str]:
    """Checks a (label, cluster_id) table against the planted truth, on
    any seed: pairwise F1 must reach F1_FLOOR and, with `planted`, every
    label of a true pair (as the alias dictionary maps it) must have a
    cluster."""
    from session_graph_spark.data import alias_rows

    problems = [] if f1 >= F1_FLOOR else [f"match_f1 {f1:.4f} < {F1_FLOOR}"]
    if planted:
        amap = dict(alias_rows())
        pos = truth_pdf[truth_pdf.is_match.astype(bool)]
        want = {amap.get(w, w) for w in set(pos.surface_a) | set(pos.surface_b)}
        got = {r[0] for r in clusters.select("label").collect()}
        if want - got:
            problems.append(f"{len(want - got)} planted labels have no cluster, "
                            f"e.g. {sorted(want - got)[:3]}")
    return problems


def pairwise_f1(spark, clusters: DataFrame, truth_pdf) -> float:
    from session_graph_spark.eval import pairwise_f1 as _f1
    from session_graph_spark.plans.pipeline import alias_df

    truth = spark.createDataFrame(
        truth_pdf[["surface_a", "surface_b", "is_match"]].astype(
            {"is_match": bool}))
    return _f1(clusters, truth, alias_df(spark)).f1


def _latest_versions(manifest: dict, batches_done: int) -> dict[str, int]:
    """conv -> index of the version the state should hold once the base
    corpus and the first `batches_done` batches are committed."""
    latest = {conv: 0 for conv in manifest["base"]}
    for b in manifest["batches"][:batches_done]:
        for conv in b["new"]:
            latest[conv] = 0
        for conv in b["changed"]:
            latest[conv] += 1
    return latest


def _own_labels(version: dict) -> set[str]:
    return {version["marker"]} | {w for pair in version["pairs"] for w in pair}


def inc_state_problems(state: DataFrame, manifest: dict, batches_done: int,
                       ) -> list[str]:
    """The committed incremental state must hold every conversation of
    the base corpus and of every processed batch; a changed conversation
    carries its latest version's marker label and no row of its previous
    version: none of that version's own labels (its marker and its
    group words, which no other conversation uses) may remain."""
    versions = manifest["versions"]
    labels: dict[str, set[str]] = {}
    for r in state.select("conv_id", "canon_label").distinct().collect():
        labels.setdefault(r["conv_id"], set()).add(r["canon_label"])
    problems = []
    for conv, v in sorted(_latest_versions(manifest, batches_done).items()):
        got = labels.get(conv)
        if not got:
            problems.append(f"{conv}: missing from state")
            continue
        if versions[conv][v]["marker"] not in got:
            problems.append(f"{conv}: marker of version {v} missing")
        if v and _own_labels(versions[conv][v - 1]) & got:
            problems.append(f"{conv}: rows of version {v - 1} remain")
    return problems


def inc_truth(manifest: dict, batches_done: int):
    """Labelled pairs of the conversation versions the state should hold."""
    import pandas as pd

    rows = set()
    for conv, v in _latest_versions(manifest, batches_done).items():
        ver = manifest["versions"][conv][v]
        rows |= {(a, b, True) for a, b in ver["pairs"]}
        rows |= {(a, b, False) for a, b in ver["negatives"]}
    return pd.DataFrame(sorted(rows),
                        columns=["surface_a", "surface_b", "is_match"])
