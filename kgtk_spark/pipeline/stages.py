"""The six pipeline stages, each a pure DataFrame → DataFrame function.

Scale notes (the whole point):
- text extraction / mention detection are mapInPandas (Arrow-batched,
  no shuffle, linear in input bytes);
- the alias dictionary is broadcast — mention→entity resolution is a
  map-side lookup, immune to hub-entity skew. Dictionaries above
  ALIAS_BROADCAST_THRESHOLD rows switch AUTOMATICALLY to the
  distributed path: a salted candidate equi-join for mention
  detection and salted shuffle joins for linking/extraction
  (kgtk_spark/textops/skew.py), so a 100M-alias dictionary never
  touches the driver;
- triple extraction over a broadcast dictionary is ONE pass per page
  with no shuffle and no join: each sentence's subject and object
  surfaces resolve through a broadcast dict of the best sense per
  alias, in the same Python pass that matches the sentence;
- canonicalization resolves the (tiny) sameAs subgraph with the
  adaptive connected components from kgtk_spark.graph (driver
  union-find when small, large/small-star fixpoint at scale), applied
  back to the full edge stream via a broadcast rewrite map;
- materialize buckets by subject hash (explicit repartition) so the
  downstream graph operators and compact co-locate by subject.
"""

from __future__ import annotations

import html as html_mod
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgtk_spark.graph.connected_components import components_auto  # noqa: F401 (stage import)
from kgtk_spark.pipeline.matcher import token_matcher_for
from kgtk_spark.pipeline.webgen import PREDICATES, SAME_AS_LABEL, SAME_AS_PHRASE

# ---------------------------------------------------------------------------
# Stage 1 — text extraction (byte-identical per url)
# ---------------------------------------------------------------------------

_HEAD_RE = re.compile(rb"<head>.*?</head>", re.S)
_P_BREAK_RE = re.compile(r"</p>\s*<p>")
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text_bytes(html: bytes) -> str:
    """Deterministic html → text. Pinned, versioned transformation: any
    change to this function changes extracted bytes, so it is the ONLY
    place allowed to interpret html (per-row invariant: byte-identical
    text per url)."""
    body = _HEAD_RE.sub(b"", html).decode("utf-8", errors="replace")
    body = _P_BREAK_RE.sub("\n", body)
    body = _TAG_RE.sub("", body)
    return html_mod.unescape(body).strip()


def _fill_text(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of pages: null ``text`` ← ``html``; drops ``html``."""
    need = pdf["text"].isna() & pdf["html"].notna()
    if need.any():
        pdf.loc[need, "text"] = pdf.loc[need, "html"].map(
            lambda b: extract_text_bytes(bytes(b))
        )
    return pdf.drop(columns=["html"])


def extract_text(pages: DataFrame) -> DataFrame:
    """Fill null ``text`` from ``html``; pages with text pass through."""
    out_schema = T.StructType(
        [f for f in pages.schema.fields if f.name != "html"]
    )
    return pages.mapInPandas(lambda batches: map(_fill_text, batches), schema=out_schema)


# ---------------------------------------------------------------------------
# Stage 2 — mention detection (token matcher over broadcast dictionary)
# ---------------------------------------------------------------------------

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("begin", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
    ]
)

# Above this many dictionary rows, the driver-collect + broadcast
# matcher is replaced by the distributed candidate-join path
# (detect_mentions_distributed / salted linking joins). The broadcast
# matcher holds the whole dictionary in every executor's Python
# worker; ~2M aliases ≈ low hundreds of MB, a sane per-worker ceiling.
ALIAS_BROADCAST_THRESHOLD = 2_000_000


def _alias_count(alias_dict: DataFrame, alias_count: int | None) -> int:
    return alias_dict.count() if alias_count is None else alias_count


def detect_mentions(
    pages: DataFrame,
    alias_dict: DataFrame,
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """(url, begin, end, surface) for every dictionary hit in ``text``.

    Dictionaries up to ``broadcast_threshold`` rows are collected once
    on the driver and broadcast; each executor builds the word-level
    matcher (matcher.TokenDictMatcher) once (cached) and streams Arrow
    batches through it — one hash probe per token. ABOVE the threshold
    the dictionary never touches the driver:
    detect_mentions_distributed runs a salted candidate equi-join
    instead (pass ``alias_count`` to skip the size probe when the
    caller already knows it).
    """
    if _alias_count(alias_dict, alias_count) > broadcast_threshold:
        return detect_mentions_distributed(pages, alias_dict)
    spark = pages.sparkSession
    aliases = tuple(
        r["alias"] for r in alias_dict.select("alias").distinct().collect()
    )
    bc = spark.sparkContext.broadcast(aliases)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        finder = token_matcher_for(bc.value).find
        empty: list = []
        for pdf in batches:
            # per-page match lists, then ONE vectorized assembly: the
            # url column is np.repeat over per-page counts and the int
            # spans land in int32 numpy arrays — no per-mention Python
            # append into object columns (guide §4.2).
            per = [finder(t) if t else empty for t in pdf["text"]]
            counts = [len(x) for x in per]
            flat = [hit for page in per for hit in page]
            n = len(flat)
            yield pd.DataFrame(
                {
                    "url": np.repeat(pdf["url"].to_numpy(), counts),
                    "begin": np.fromiter(
                        (h[0] for h in flat), dtype=np.int32, count=n
                    ),
                    "end": np.fromiter(
                        (h[1] for h in flat), dtype=np.int32, count=n
                    ),
                    "surface": [h[2] for h in flat],
                }
            )

    return pages.select("url", "text").mapInPandas(run, schema=MENTIONS_SCHEMA)


_TOK_RE = re.compile(r"\S+")


def detect_mentions_distributed(
    pages: DataFrame, alias_dict: DataFrame, salt_buckets: int = 16
) -> DataFrame:
    """Mention detection for dictionaries too big to broadcast.

    Semantics-identical twin of the token matcher
    (aho.TokenDictMatcher): token-boundary matches, longest match
    first, non-overlapping. The dictionary stays a DataFrame:

    1. the distinct alias token-LENGTHS are collected (a handful of
       small integers, never the aliases themselves);
    2. each page emits its candidate n-grams for exactly those lengths
       (mapInPandas, linear in tokens × n_lengths, no dictionary);
    3. candidates equi-join the normalized alias grams — salted, since
       hub aliases are Zipfian (textops.skew.salted_join);
    4. a per-url greedy pass keeps the longest non-overlapping hits
       (applyInPandas — per-document work after one shuffle on url).
    """
    from kgtk_spark.textops.skew import salted_join

    norm = F.array_join(F.split(F.trim(F.col("alias")), r"\s+"), " ")
    grams_dict = (
        alias_dict.select(norm.alias("gram"))
        .where(F.col("gram") != "")
        .distinct()
        .select("gram", F.size(F.split(F.col("gram"), " ")).alias("L"))
    )
    lengths = sorted(
        r["L"] for r in grams_dict.select("L").distinct().collect()
    )
    if not lengths:
        return pages.sparkSession.createDataFrame([], MENTIONS_SCHEMA)

    cand_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("begin", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("gram", T.StringType()),
        ]
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "begin": [], "end": [], "gram": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                toks = [(m.start(), m.end(), m.group()) for m in _TOK_RE.finditer(text)]
                n = len(toks)
                for i in range(n):
                    for L in lengths:
                        if i + L > n:
                            break
                        rows["url"].append(url)
                        rows["begin"].append(toks[i][0])
                        rows["end"].append(toks[i + L - 1][1])
                        rows["gram"].append(" ".join(t[2] for t in toks[i : i + L]))
            yield pd.DataFrame(rows)

    cands = pages.select("url", "text").mapInPandas(emit, schema=cand_schema)
    hits = salted_join(cands, grams_dict, "gram", salt_buckets=salt_buckets).select(
        "url", "begin", "end", F.col("gram").alias("surface")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["begin", "end"], ascending=[True, False])
        keep, next_free = [], -1
        for row in pdf.itertuples(index=False):
            if row.begin >= next_free:
                keep.append(row)
                next_free = row.end
        return pd.DataFrame(keep, columns=pdf.columns) if keep else pdf.iloc[0:0]

    return hits.groupBy("url").applyInPandas(greedy, schema=MENTIONS_SCHEMA)


# ---------------------------------------------------------------------------
# Stage 3 — entity linking (broadcast map-side scoring)
# ---------------------------------------------------------------------------

def best_alias_map(alias_dict: DataFrame) -> DataFrame:
    """(surface, entity, score): the argmax-prior sense per alias,
    deterministic tie-break on entity id. Tiny — always broadcast."""
    return (
        alias_dict.groupBy(F.col("alias").alias("surface"))
        .agg(
            F.expr("min_by(entity, struct(-prior, entity))").alias("entity"),
            F.max("prior").alias("score"),
        )
    )


def link_entities(
    mentions: DataFrame,
    alias_dict: DataFrame,
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """Resolve each mention to its best-prior entity.

    ZERO-shuffle: the argmax over candidate senses is precomputed per
    alias (best_alias_map) and the mentions stream takes one broadcast
    hash join — map-side scoring, immune to hub-alias skew, scales
    linearly with cores. Dictionaries above ``broadcast_threshold`` rows
    switch to a salted shuffle join (textops.skew.salted_join) — hub
    aliases spread over the salt shards instead of making one straggler
    reducer.
    """
    best = best_alias_map(alias_dict)
    if _alias_count(alias_dict, alias_count) > broadcast_threshold:
        from kgtk_spark.textops.skew import salted_join

        return salted_join(mentions, best, "surface").select(
            "url", "begin", "end", "surface", "entity", "score"
        )
    return mentions.join(F.broadcast(best), "surface").select(
        "url", "begin", "end", "surface", "entity", "score"
    )


# ---------------------------------------------------------------------------
# Stage 4 — triple extraction (pattern-based SVO over sentences)
# ---------------------------------------------------------------------------

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("subj_surface", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj_surface", T.StringType()),
    ]
)

_PHRASE_TO_PRED = {phrase: p for phrase, p in PREDICATES}
_PHRASE_TO_PRED[SAME_AS_PHRASE] = SAME_AS_LABEL
_PHRASE_RE = re.compile(
    r"^(?P<subj>.+?)\s+(?P<phrase>"
    + "|".join(re.escape(p) for p in sorted(_PHRASE_TO_PRED, key=len, reverse=True))
    + r")\s+(?P<obj>.+?)\s*\.?\s*$"
)


def _svo(text: str) -> Iterator[tuple[str, str, str]]:
    """(subj_surface, pred, obj_surface) per line of ``text`` that
    matches _PHRASE_RE — the one SVO rule both triple paths share."""
    for sent in text.split("\n"):
        m = _PHRASE_RE.match(sent.strip())
        if m:
            yield m.group("subj"), _PHRASE_TO_PRED[m.group("phrase")], m.group("obj")


def raw_triples(pages: DataFrame) -> DataFrame:
    """(url, subj_surface, pred, obj_surface) per matched sentence."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "subj_surface": [], "pred": [], "obj_surface": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                for subj, pred, obj in _svo(text):
                    rows["url"].append(url)
                    rows["subj_surface"].append(subj)
                    rows["pred"].append(pred)
                    rows["obj_surface"].append(obj)
            yield pd.DataFrame(rows)

    return pages.select("url", "text").mapInPandas(run, schema=TRIPLE_SCHEMA)


def extract_triples(
    pages: DataFrame,
    alias_dict: DataFrame,
    broadcast_threshold: int = ALIAS_BROADCAST_THRESHOLD,
    alias_count: int | None = None,
) -> DataFrame:
    """(url, node1, label, node2) per SVO sentence whose subject and
    object both resolve to an entity.

    ``pages`` may still carry ``html``: null ``text`` is then filled
    from it first (extract_text's rule), in the same Python pass — a
    chained extract_text would start a second Python worker per task.

    Broadcastable dictionaries take ONE mapInPandas pass per page (no
    join, no shuffle): each Python worker holds the best-sense map
    (best_alias_map, collected once, bounded by ``broadcast_threshold``)
    as a dict, and each sentence's subject and object surfaces are
    looked up in it — the inner join's rule, so a sentence whose
    subject or object is not an alias is dropped. Above
    ``broadcast_threshold`` dictionary rows the regex triples
    (raw_triples) resolve their surfaces with two salted shuffle joins
    against the best-sense map instead.
    """
    best = best_alias_map(alias_dict)
    has_html = "html" in pages.columns
    if _alias_count(alias_dict, alias_count) > broadcast_threshold:
        from kgtk_spark.textops.skew import salted_join

        s = best.select(F.col("surface").alias("subj_surface"), F.col("entity").alias("subj"))
        o = best.select(F.col("surface").alias("obj_surface"), F.col("entity").alias("obj"))
        if has_html:
            pages = extract_text(pages)
        joined = salted_join(salted_join(raw_triples(pages), s, "subj_surface"), o, "obj_surface")
        return joined.select(
            "url",
            F.col("subj").alias("node1"),
            F.col("pred").alias("label"),
            F.col("obj").alias("node2"),
        )
    # a null surface never equals a regex group, so dropping it is exact
    rows = best.where(F.col("surface").isNotNull()).select("surface", "entity").collect()
    bc = pages.sparkSession.sparkContext.broadcast({r[0]: r[1] for r in rows})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        entity_of = bc.value
        for pdf in batches:
            if has_html:
                pdf = _fill_text(pdf)
            out = {"url": [], "node1": [], "label": [], "node2": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                for subj, pred, obj in _svo(text):
                    if subj in entity_of and obj in entity_of:
                        out["url"].append(url)
                        out["node1"].append(entity_of[subj])
                        out["label"].append(pred)
                        out["node2"].append(entity_of[obj])
            yield pd.DataFrame(out)

    return pages.select("url", "text", *(["html"] if has_html else [])).mapInPandas(
        run, schema="url string, node1 string, label string, node2 string"
    )


# ---------------------------------------------------------------------------
# Stage 5 — canonicalization (sameAs connected components)
# ---------------------------------------------------------------------------

# Above this many rewrite rows the sameAs map stops being broadcast and
# the rewrite runs as plain shuffle left-joins (AQE handles stragglers
# and skewed canonical ids). Mirrors ALIAS_BROADCAST_THRESHOLD: two
# short strings per row, so 2M rows ≈ low hundreds of MB per executor —
# the same per-worker ceiling.
REWRITE_BROADCAST_THRESHOLD = 2_000_000


def canonicalize(
    triples: DataFrame,
    same_as_label: str = SAME_AS_LABEL,
    broadcast_threshold: int = REWRITE_BROADCAST_THRESHOLD,
    size_hint: int | None = None,
) -> DataFrame:
    """Collapse sameAs clusters: rewrite node1/node2 to the cluster's
    lexicographically-smallest member; drop the sameAs edges.

    Mirrors the reference's sameAs canonicalization
    (kgtk/cskg_utils.py:88-147) with the in-memory union-find replaced
    by the large/small-star fixpoint. The rewrite map (one row per
    non-canonical entity) is broadcast only while it stays under
    ``broadcast_threshold`` rows; above that the two rewrites run as
    shuffle joins — a web-scale sameAs graph can have hundreds of
    millions of non-canonical ids, which must never transit the driver
    or every executor."""
    same = triples.filter(F.col("label") == same_as_label)
    rest = triples.filter(F.col("label") != same_as_label)

    pairs = same.select(F.col("node1").alias("u"), F.col("node2").alias("v"))
    # (node, component=min member); small sameAs graphs resolve on the
    # driver, big ones run the large/small-star fixpoint.
    from kgtk_spark.graph.connected_components import components_auto

    assign = components_auto(pairs)
    rewrite = assign.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__from__"), F.col("component").alias("__to__")
    )
    # ``size_hint``: an upper bound on rewrite rows the CALLER already
    # knows (e.g. the fused pipeline bounds it by the alias-dictionary
    # size) — skips the persist + count probe, keeping the hot path
    # barrier-free. Without a hint, size once; persist so the CC
    # fixpoint doesn't replay per consumer (node1 pass + node2 pass).
    if size_hint is None:
        rewrite = rewrite.persist()
        n_rewrite = rewrite.count()
    else:
        n_rewrite = size_hint
    if n_rewrite <= broadcast_threshold:
        rewrite = F.broadcast(rewrite)
    out = (
        rest.join(rewrite, rest["node1"] == rewrite["__from__"], "left")
        .withColumn("node1", F.coalesce("__to__", "node1"))
        .drop("__from__", "__to__")
    )
    out = (
        out.join(rewrite, out["node2"] == rewrite["__from__"], "left")
        .withColumn("node2", F.coalesce("__to__", "node2"))
        .drop("__from__", "__to__")
    )
    return out


# ---------------------------------------------------------------------------
# Stage 6 — materialize KGTK edges
# ---------------------------------------------------------------------------

def materialize(
    triples: DataFrame,
    n_buckets: int = 32,
    id_style: str = "node1-label-node2-num",
) -> DataFrame:
    """Distinct edges with KGTK ids, bucketed by subject hash.

    The id style is content-derived per group
    (kgtk/reshape/kgtkidbuilder.py:392-400) — no global sort. The
    explicit repartition on hash(node1) gives the downstream operators
    (compact, graph-statistics, ifexists on node1) co-located input.
    """
    from kgtk_spark.operators.add_id import add_id

    edges = triples.select("node1", "label", "node2").dropDuplicates()
    edges = edges.repartition(n_buckets, F.xxhash64("node1"))
    return add_id(edges, style=id_style).select("node1", "label", "node2", "id")
