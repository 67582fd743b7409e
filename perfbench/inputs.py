"""Seeded workload inputs. The same seed gives the same inputs; the program
under test only ever sees what these functions generate."""

from __future__ import annotations

import numpy as np
import pandas as pd

# the sf0.1 documents table's shape: 5,000 docs of 8-65 words drawn from a
# 31-word vocabulary, five languages, twenty sources
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCS = 5_000
N_ORDERS = 150_000


def documents(seed: int, n: int = N_DOCS) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(8, 66, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def orders(seed: int, n: int = N_ORDERS) -> pd.DataFrame:
    """Distinct order keys; the freshness job derives its visit log from them."""
    rng = np.random.default_rng([seed, 2])
    keys = np.sort(rng.choice(10 * n, n, replace=False)).astype(np.int64)
    return pd.DataFrame({"o_orderkey": keys})


def query_terms(seed: int, n: int) -> list[str]:
    """n two-term queries over the documents' vocabulary."""
    rng = np.random.default_rng([seed, 3])
    return [" ".join(rng.choice(WORDS, 2)) for _ in range(n)]


def _admission_host(F, h):
    return F.when(F.pmod(h, 2) == 0, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), F.pmod(h, 97), F.lit(".example.org"))
    )


def candidates(spark, seed: int, n: int, first_id: int):
    """Raw candidate URLs, generated in the JVM: ~50% on one hot host, ~4%
    malformed (doubled URL), and canonicalization variants (trailing slash,
    query, fragment, upper case) on the rest. Columns (id, href)."""
    from pyspark.sql import functions as F

    ids = spark.range(first_id, first_id + n).withColumn("h", F.xxhash64("id", F.lit(seed)))
    h = F.col("h")
    host = _admission_host(F, h)
    base = F.concat(F.lit("https://"), host, F.lit("/documentation/w/"), F.col("id").cast("string"))
    variant = (
        F.when(F.pmod(h, 23) == 0, F.concat(base, base))
        .when(F.pmod(h, 7) == 1, F.concat(base, F.lit("/")))
        .when(F.pmod(h, 7) == 2, F.concat(base, F.lit("?session=9&x=1")))
        .when(F.pmod(h, 7) == 3, F.concat(base, F.lit("#fragment")))
        .when(
            F.pmod(h, 7) == 4,
            F.concat(
                F.lit("HTTPS://"), F.upper(host), F.lit("/documentation/w/"),
                F.col("id").cast("string"),
            ),
        )
        .otherwise(base)
    )
    return ids.select("id", variant.alias("href"))


def seen_urls(spark, seed: int, m: int):
    """Canonical URLs already admitted: ids [0, m), same hosts as the
    candidates. Columns (id, url)."""
    from pyspark.sql import functions as F

    ids = spark.range(0, m).withColumn("h", F.xxhash64("id", F.lit(seed)))
    host = _admission_host(F, F.col("h"))
    return ids.select(
        "id",
        F.concat(F.lit("https://"), host, F.lit("/documentation/w/"), F.col("id").cast("string")).alias("url"),
    )


def admission_robots(seed: int) -> list[tuple]:
    """(host, rule_type, path_prefix, crawl_delay): the hot host blocks one
    seeded leading id digit, three seeded hosts block ids ending in 7 with a
    wildcard rule, so both rule kinds filter real rows."""
    rng = np.random.default_rng([seed, 4])
    digit = int(rng.integers(1, 10))
    rows = [
        ("hot.example.com", "disallow", "/private/", 0.0),
        ("hot.example.com", "allow", "/", 0.0),
        ("hot.example.com", "disallow", f"/documentation/w/{digit}", 0.0),
    ]
    for i in rng.choice(97, 3, replace=False):
        rows.append((f"h{int(i)}.example.org", "disallow", "/documentation/*7$", 0.0))
    return rows
