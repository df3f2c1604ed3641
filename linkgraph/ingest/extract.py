"""Vectorized import/include extraction → edge table.

The reference ingests a binary edge file (init_all.c:812-832); our
production contract ingests a source-code table and DERIVES the edges.
All content parsing is pandas-vectorized inside Arrow-batched pandas UDFs
(``Series.str.findall`` — no per-row Python loops), per the engine
contract.

Per-language reference syntax (FIXTURES.md §1):
- python: ``import org0.repo3.mod_2`` / ``from org0.repo3 import mod_2``
- c:      ``#include "org0/repo3/src/mod_2.h"``
- java:   ``import org0.repo3.mod_2;``

A referenced repo is the first two dotted/slashed components of the
import target. Unknown-lang rows extract nothing (and are counted, not
dropped silently, by callers that care).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from linkgraph.graph import synthetic_weight

_PY_RE = r"(?m)^\s*(?:from\s+([\w.]+)\s+import\s+\w+|import\s+([\w.]+))\s*$"
_JAVA_RE = r"(?m)^\s*import\s+([\w.]+)\s*;"
_C_RE = r"(?m)^\s*#include\s+\"([^\"]+)\""


def _repo_lists(sub: pd.Series, regex: str, sep: str, two_groups: bool) -> pd.Series:
    """Vectorized: content Series → Series of referenced-repo lists.

    findall → explode (one row per match, original index preserved) →
    vectorized split/join → groupby(level=0) back to lists. No per-row
    Python; everything is pandas columnar ops over the Arrow batch.
    """
    matches = sub.str.findall(regex).explode().dropna()
    if matches.empty:
        return pd.Series(dtype=object)
    if two_groups:  # python regex captures (from_target, import_target)
        a, b = matches.str[0], matches.str[1]
        targets = a.where(a != "", b)
    else:
        targets = matches
    parts = targets.str.split(sep)
    valid = parts.str.len() >= (3 if sep == "/" else 2)
    repos = (parts.str[0] + "/" + parts.str[1])[valid]
    return repos.groupby(level=0).agg(list)


@F.pandas_udf(ArrayType(StringType()))
def _refs_udf(content: pd.Series, lang: pd.Series) -> pd.Series:
    """Arrow-batched extraction: for each row, the list of referenced repo
    names. Vectorized str ops per language mask."""
    out = pd.Series([[] for _ in range(len(content))], index=content.index, dtype=object)
    for mask, regex, sep, two in (
        (lang == "python", _PY_RE, ".", True),
        (lang == "java", _JAVA_RE, ".", False),
        (lang == "c", _C_RE, "/", False),
    ):
        if mask.any():
            lists = _repo_lists(content[mask], regex, sep, two)
            out.loc[lists.index] = lists
    return out


def extract_references(source: DataFrame) -> DataFrame:
    """(repo, ref_repo) rows — one per import statement found (duplicates
    preserved; callers dedupe). Self-references are kept here."""
    return (
        source.select("repo", _refs_udf("content", "lang").alias("refs"))
        .select("repo", F.explode("refs").alias("ref_repo"))
    )


def assign_vertex_ids(source: DataFrame, key: str = "repo") -> DataFrame:
    """Deterministic dense ids: sorted distinct keys → (key, id long), the
    id being the key's rank in sorted order.

    JVM-only and distributed: the range-partitioned sort is persisted, one
    aggregate counts its rows per partition, the driver turns the counts
    into per-partition offsets, and a row's id is its partition's offset
    plus its position in the partition (monotonically_increasing_id minus
    the partition index in its upper 31 bits). A row_number window would
    funnel every key through ONE partition at 10^9-vertex scale, and an
    RDD zipWithIndex runs per-row Python. The reference takes dense ids as
    given (NB_NODES CLI arg, random.c:66); we must mint them.
    """
    # persisted for as long as the ids are used: the offsets below are
    # only valid for THIS partitioning, and a re-run sort may split the
    # keys at different bounds
    keys = source.select(key).distinct().sort(key).persist()
    pid = F.spark_partition_id()
    counts = dict(keys.groupBy(pid).count().collect())
    offsets, total = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(total)
        total += counts.get(p, 0)
    start = F.lit(offsets).cast("array<long>")[pid]
    position = F.monotonically_increasing_id() - pid.cast("long") * (1 << 33)
    return keys.select(key, (start + position).alias("id"))


def extract_edges(
    source: DataFrame,
    dedupe: bool = True,
    drop_self: bool = False,
    weight: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline: source table → (edges(src,dst,weight), ids(repo,id)).

    Edges reference only repos that exist in the table (inner join against
    the id map — imports of unknown repos are dropped); the id map covers
    ALL repos, so dependency-free repos exist as isolated vertices.
    The id map is broadcast when small; at 10^9 repos both joins become
    shuffle hash joins on the string key — still two shuffles total.
    """
    refs = extract_references(source)
    if dedupe:
        refs = refs.dropDuplicates(["repo", "ref_repo"])
    if drop_self:
        refs = refs.filter(F.col("repo") != F.col("ref_repo"))
    ids = assign_vertex_ids(source, "repo").persist()
    src_ids = ids.select(F.col("repo"), F.col("id").alias("src"))
    dst_ids = ids.select(F.col("repo").alias("ref_repo"), F.col("id").alias("dst"))
    edges = (
        refs.join(src_ids, "repo")
        .join(dst_ids, "ref_repo")
        .select("src", "dst")
    )
    w = weight if weight is not None else synthetic_weight(F.col("src"), F.col("dst"))
    return edges.withColumn("weight", w), ids


def content_hashes(source: DataFrame) -> DataFrame:
    """Multiset of sha256(content) as (sha256, n) — the per-row invariant:
    extraction must not alter contents, verified by comparing this before
    and after any pipeline stage that carries ``content``."""
    return (
        source.select(F.sha2(F.col("content"), 256).alias("sha256"))
        .groupBy("sha256")
        .agg(F.count("*").alias("n"))
    )
