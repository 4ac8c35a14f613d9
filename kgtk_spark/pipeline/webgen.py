"""Deterministic synthetic Common-Crawl-style web pages + ground truth.

Synthesizes, from a seed, exactly the input_hint table shape
``(url, warc_ts, html, text, lang)`` plus the ground truth needed to
score the pipeline: the planted (subj, pred, obj) facts and the alias
dictionary. Entity mentions are drawn Zipfian so a few hub entities
dominate — the skew the salted joins are for (FIXTURES.md §6). Those
joins run only above ``stages.ALIAS_BROADCAST_THRESHOLD`` dictionary
rows; a test takes them on these pages by monkeypatching that constant
to 0.

A slice of entities have *duplicate* ids (``Q{i}__dup``) whose aliases
appear in "also known as" sentences, planting sameAs edges that the
canonicalization stage must collapse; expected edges always use the
canonical id, so P/R only reaches 1.0 if canonicalization works.

Everything is pure-Python and seeded — no external data, no wall clock.
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
import random
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Predicate phrase inventory: phrase → KGTK property label.
PREDICATES = [
    ("is an instance of", "P31"),
    ("is a subclass of", "P279"),
    ("was founded by", "P112"),
    ("is the capital of", "P1376"),
    ("is located in", "P131"),
    ("was written by", "P50"),
    ("is owned by", "P127"),
    ("works for", "P108"),
    ("is married to", "P26"),
    ("borders", "P47"),
]
SAME_AS_PHRASE = "is also known as"
SAME_AS_LABEL = "sameAs"

# Share of entities that get a duplicate id (a sameAs edge to collapse),
# planted facts per page (inclusive range), and share of pages that arrive
# as html with null text.
DUP_FRACTION = 0.1
FACTS_PER_PAGE = (3, 10)
HTML_FRACTION = 0.3

_SYLLABLES = [
    "ka", "lo", "mi", "ra", "ven", "dor", "sel", "tan", "bur", "nis",
    "qua", "fel", "gor", "hul", "jin", "pex", "rho", "sil", "tur", "wex",
]
_FILLER = (
    "the archive records many things . scholars continue to debate the details . "
    "sources differ on minor points . the following account is widely cited ."
).split(" . ")

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), False),
    ]
)


@dataclass
class World:
    """The planted universe: entities, aliases, facts, duplicate ids."""

    n_entities: int
    entities: list[str] = field(default_factory=list)       # canonical Qids
    names: dict[str, str] = field(default_factory=dict)     # Qid → canonical name
    aliases: dict[str, list[str]] = field(default_factory=dict)  # Qid → surface forms
    dup_of: dict[str, str] = field(default_factory=dict)    # dup Qid → canonical Qid
    facts: list[tuple[str, str, str]] = field(default_factory=list)  # canonical ids
    same_as: list[tuple[str, str]] = field(default_factory=list)


def _entity_name(rng: random.Random, i: int) -> str:
    parts = [rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))]
    return ("".join(parts)).capitalize() + f" {i}"


def generate_world(n_entities: int = 200, seed: int = 42) -> World:
    rng = random.Random(seed)
    w = World(n_entities=n_entities)
    for i in range(n_entities):
        q = f"Q{i + 1}"
        w.entities.append(q)
        name = _entity_name(rng, i + 1)
        w.names[q] = name
        # Each entity gets its name plus 1-2 distinct alias forms.
        alts = [name]
        for a in range(rng.randint(1, 2)):
            alts.append(f"{name.split()[0]}{'-alt' if a == 0 else '-var'} {i + 1}")
        w.aliases[q] = alts

    # Duplicate ids for a slice of entities — canonicalization targets.
    n_dup = int(n_entities * DUP_FRACTION)
    for i in range(n_dup):
        canon = w.entities[rng.randrange(n_entities)]
        dup = f"{canon}__dup"
        if dup in w.dup_of:
            continue
        w.dup_of[dup] = canon
        # The duplicate owns ONE alias surface form of its own.
        dup_alias = f"{w.names[canon].split()[0]}-prime {canon[1:]}"
        w.aliases[dup] = [dup_alias]
        w.same_as.append((dup, canon))

    # Facts over canonical entities; subjects Zipfian-skewed (hub entities).
    n_facts = n_entities * 3
    zipf_weights = [1.0 / (r + 1) for r in range(n_entities)]
    for _ in range(n_facts):
        s = rng.choices(w.entities, weights=zipf_weights, k=1)[0]
        _, p = PREDICATES[rng.randrange(len(PREDICATES))]
        o = w.entities[rng.randrange(n_entities)]
        if o == s:
            continue
        w.facts.append((s, p, o))
    w.facts = sorted(set(w.facts))
    return w


_HTML_TEMPLATE = (
    "<html><head><title>{title}</title></head>"
    "<body><main><p>{body}</p></main></body></html>"
)


def html_of_text(text: str, title: str) -> bytes:
    body = html_mod.escape(text).replace("\n", "</p><p>")
    return _HTML_TEMPLATE.format(title=html_mod.escape(title), body=body).encode("utf-8")


def _phrase_for(pred: str) -> str:
    for phrase, p in PREDICATES:
        if p == pred:
            return phrase
    raise KeyError(pred)


def _gen_page_indexed(world: World, dups_of: dict[str, list[str]], seed: int, i: int) -> tuple:
    """One page from (world, seed, page-index) alone — executor-safe.

    Each page gets an independent RNG keyed by its index, so generation
    parallelizes over any partitioning and any cluster size with
    identical output. Returns (url, warc_ts, html, text, lang,
    planted_facts).
    """
    rng = random.Random(f"{seed}:{i}")
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    url = f"https://example.org/{seed}/{i}"
    ts = t0 + dt.timedelta(seconds=i * 37)
    sentences: list[str] = []
    planted: list[str] = []
    k = rng.randint(*FACTS_PER_PAGE)
    for _ in range(k):
        s, p, o = world.facts[rng.randrange(len(world.facts))]
        planted.append(f"{s}\x1f{p}\x1f{o}")
        s_id = s
        dups = dups_of.get(s)
        if dups and rng.random() < 0.3:
            s_id = dups[0]
        s_alias = rng.choice(world.aliases[s_id])
        o_alias = rng.choice(world.aliases[o])
        sentences.append(f"{s_alias} {_phrase_for(p)} {o_alias} .")
        if rng.random() < 0.25:
            sentences.append(rng.choice(_FILLER) + " .")
    if world.same_as and rng.random() < 0.4:
        d, c = world.same_as[rng.randrange(len(world.same_as))]
        sentences.append(f"{world.aliases[d][0]} {SAME_AS_PHRASE} {world.aliases[c][0]} .")
    text = "\n".join(sentences)
    has_html = rng.random() < HTML_FRACTION
    html = html_of_text(text, f"page {i}") if has_html else None
    return (url, ts, html, None if has_html else text, "en", planted)


def generate_pages_distributed(
    spark: SparkSession,
    n_pages: int,
    n_entities: int = 2000,
    seed: int = 42,
    partitions: int = 64,
) -> tuple[DataFrame, DataFrame, World]:
    """Executor-side page synthesis: the one page generator, for the
    benchmarks and the tests alike.

    The World (entities/aliases/facts) is built on the driver and
    broadcast; pages materialize in parallel from their index, once,
    into a ``localCheckpoint`` that both returned frames read. Returns
    (pages, expected, world) — expected edges are the
    distinct planted facts, computed distributedly.
    """
    import pandas as pd
    from pyspark.sql import types as T

    w = generate_world(n_entities=n_entities, seed=seed)
    dups_of: dict[str, list[str]] = {}
    for d, c in w.dup_of.items():
        dups_of.setdefault(c, []).append(d)
    bc = spark.sparkContext.broadcast((w, dups_of))

    full_schema = T.StructType(
        PAGES_SCHEMA.fields + [T.StructField("planted", T.ArrayType(T.StringType()))]
    )

    def gen(batches):
        world, dups = bc.value
        for pdf in batches:
            rows = [
                _gen_page_indexed(world, dups, seed, int(i))
                for i in pdf["id"]
            ]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang", "planted"]
            )

    # One eager checkpoint: pages and expected both read it, so each page
    # is generated once. The two returned frames own it: Spark's
    # ContextCleaner drops its blocks after both have been garbage-
    # collected, and callers need no persist() of their own. The blocks
    # are executor-local: a lost executor fails the read instead of
    # regenerating the pages.
    full = (
        spark.range(0, n_pages, 1, partitions)
        .mapInPandas(gen, schema=full_schema)
        .localCheckpoint()
    )
    pages = full.drop("planted")
    expected = (
        full.select(F.explode("planted").alias("f"))
        .select(
            F.split_part("f", F.lit("\x1f"), F.lit(1)).alias("node1"),
            F.split_part("f", F.lit("\x1f"), F.lit(2)).alias("label"),
            F.split_part("f", F.lit("\x1f"), F.lit(3)).alias("node2"),
        )
        .dropDuplicates()
    )
    return pages, expected, w


def alias_dictionary_df(spark: SparkSession, world: World) -> DataFrame:
    """(alias, entity, prior) — the broadcast dictionary for mention
    detection and linking. Prior splits mass across homonym senses."""
    counts: dict[str, int] = {}
    for ent, forms in world.aliases.items():
        for form in forms:
            counts[form] = counts.get(form, 0) + 1
    pairs = [(form, ent) for ent, forms in world.aliases.items() for form in forms]
    # Built from Arrow: a JVM-only local relation, where createDataFrame
    # of a Python list starts a Python worker on every action on the frame.
    return spark.createDataFrame(pa.table({
        "alias": pa.array([a for a, _ in pairs], pa.string()),
        "entity": pa.array([e for _, e in pairs], pa.string()),
        "prior": pa.array([1.0 / counts[a] for a, _ in pairs], pa.float64()),
    }))
