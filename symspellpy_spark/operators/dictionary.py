"""Dictionary build — the engine's write path.

The reference maintains four mutable dicts (symspellpy.py:105-114);
here each is a DataFrame:

- ``words(term, count)``        <- ``_words``
- ``below(term, count)``        <- ``_below_threshold_words``
- ``bigrams(bigram, count)``    <- ``_bigrams``
- ``deletes(delete_key, term, count)`` <- ``_deletes`` (joined with
  counts at build time so lookup needs no second join)

Incremental ``create_dictionary_entry`` (symspellpy.py:194-256) becomes
batch aggregation: group tokens by term, saturating-sum, split on
``count_threshold``. The below-threshold staging semantics (counts
accumulate until the running total crosses the threshold, then the term
is promoted with the *accumulated* count, symspellpy.py:221-231) is
equivalent under batch aggregation because all increments are positive.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from symspellpy_spark.config import DATA_VERSION, EngineConfig
from symspellpy_spark.functions.text import corpus_words_expr, saturating_sum
from symspellpy_spark.operators.deletes import delete_neighborhood
from symspellpy_spark.sources.freq_dict import (
    read_bigram_dictionary,
    read_unigram_dictionary,
)

__all__ = ["SparkDictionary"]


@dataclass
class SparkDictionary:
    """Immutable bundle of the dictionary-state DataFrames.

    Mutating operations return a new ``SparkDictionary`` (Spark-first:
    state transitions are new plans / new snapshots, not in-place
    mutation like the reference's ``self._words[key] = ...``).
    """

    spark: SparkSession
    config: EngineConfig
    words: DataFrame
    deletes: DataFrame
    below: DataFrame | None = None
    bigrams: DataFrame | None = None
    _max_length: int | None = None
    _bigram_count_min: int | None = None
    _num_terms: int | None = None

    # ---------------- constructors ----------------

    @classmethod
    def from_words(
        cls,
        spark: SparkSession,
        words: DataFrame,
        config: EngineConfig | None = None,
        pre_aggregated: bool = True,
    ) -> "SparkDictionary":
        """Build the full dictionary state from ``(term, count)`` rows.

        ``pre_aggregated=False`` means raw token occurrences; they are
        aggregated with saturating addition first.
        """
        config = config or EngineConfig()
        if not pre_aggregated:
            words = words.groupBy("term").agg(saturating_sum(F.col("count")).alias("count"))
        else:
            # merged loads can still contain duplicate terms
            words = words.groupBy("term").agg(saturating_sum(F.col("count")).alias("count"))

        if config.count_threshold > 0:
            above = words.where(
                (F.col("count") >= config.count_threshold) & (F.col("count") > 0)
            )
            below = words.where(
                (F.col("count") < config.count_threshold) & (F.col("count") > 0)
            )
        else:
            above = words
            below = words.limit(0)

        deletes = delete_neighborhood(above, config).select(
            "delete_key", "term", "count"
        )
        return cls(
            spark=spark,
            config=config,
            words=above,
            deletes=deletes,
            below=below,
        )

    @classmethod
    def load_dictionary(
        cls,
        spark: SparkSession,
        path,
        term_index: int = 0,
        count_index: int = 1,
        separator: str = " ",
        config: EngineConfig | None = None,
        encoding: str | None = None,
        errors: str | None = None,
    ) -> "SparkDictionary":
        """Reference S1 ``load_dictionary`` (symspellpy.py:318-356);
        ``path`` may be a path string, ``Path``, or open text stream,
        with ``encoding``/``errors`` honored for path inputs."""
        vocab = read_unigram_dictionary(
            spark, path, term_index, count_index, separator, encoding, errors
        )
        return cls.from_words(spark, vocab, config)

    @classmethod
    def create_dictionary(
        cls,
        spark: SparkSession,
        corpus_path,
        config: EngineConfig | None = None,
        encoding: str | None = None,
        errors: str | None = None,
    ) -> "SparkDictionary":
        """Reference S5 ``create_dictionary`` (symspellpy.py:160-192):
        tokenize raw text, count occurrences, build the index. Accepts a
        path / Path / open text stream like the reference."""
        from symspellpy_spark.sources.freq_dict import lines_df

        tokens = (
            lines_df(spark, corpus_path, encoding, errors)
            .select(F.explode(corpus_words_expr(F.col("value"))).alias("term"))
            .where(F.length("term") > 0)
            .select("term", F.lit(1).cast("long").alias("count"))
        )
        return cls.from_words(spark, tokens, config, pre_aggregated=False)

    # ---------------- incremental maintenance ----------------

    def merge_words(self, new_words: DataFrame) -> "SparkDictionary":
        """Add ``(term, count)`` rows to the dictionary (batch analogue of
        repeated ``create_dictionary_entry``, symspellpy.py:194-256)."""
        combined = (
            self.words.unionByName(
                self.below if self.below is not None else self.words.limit(0)
            )
            .unionByName(new_words)
        )
        return SparkDictionary.from_words(self.spark, combined, self.config)

    def delete_dictionary_entry(self, key: str) -> "SparkDictionary":
        """Reference D2 (symspellpy.py:258-282): drop a term from words
        and from every delete bucket; max_length and num_terms are
        recomputed lazily."""
        return replace(
            self,
            words=self.words.where(F.col("term") != key),
            deletes=self.deletes.where(F.col("term") != key),
            _max_length=None,
            _num_terms=None,
        )

    def with_bigrams(self, bigrams: DataFrame) -> "SparkDictionary":
        return replace(self, bigrams=bigrams, _bigram_count_min=None)

    def load_bigram_dictionary(
        self,
        path,
        term_index: int = 0,
        count_index: int = 2,
        separator: str | None = None,
        encoding: str | None = None,
        errors: str | None = None,
    ) -> "SparkDictionary":
        """Reference S3 (symspellpy.py:284-316); path / Path / stream."""
        return self.with_bigrams(
            read_bigram_dictionary(
                self.spark, path, term_index, count_index, separator, encoding, errors
            )
        )

    # ---------------- derived scalars ----------------

    @property
    def num_terms(self) -> int:
        """Vocabulary size (cached). Gates the broadcast-collect fast
        paths: a web-scale vocabulary must not be collected to the
        driver, so lookup/compound/segmentation fall back to their
        relational shapes above ``neighborhood.BROADCAST_VOCAB_LIMIT``."""
        if self._num_terms is None:
            self._num_terms = self.words.count()
        return self._num_terms

    @property
    def max_length(self) -> int:
        """Longest dictionary term (reference _max_length, symspellpy.py:114)."""
        if self._max_length is None:
            row = self.words.agg(F.max(F.length("term"))).first()
            self._max_length = row[0] or 0
        return self._max_length

    @property
    def bigram_count_min(self) -> int:
        """Min observed bigram count (reference symspellpy.py:82,1106-1107)."""
        if self._bigram_count_min is None:
            if self.bigrams is None:
                self._bigram_count_min = 2**63 - 1
            else:
                row = self.bigrams.agg(F.min("count")).first()
                self._bigram_count_min = row[0] if row[0] is not None else 2**63 - 1
        return self._bigram_count_min

    def word_count(self) -> int:
        return self.words.count()

    def entry_count(self) -> int:
        """Number of distinct delete keys (reference entry_count counts
        keys of ``_deletes``; tests/test_symspellpy.py:216)."""
        return self.deletes.select("delete_key").distinct().count()

    # ---------------- caching / persistence ----------------

    def cache(self) -> "SparkDictionary":
        self.words.cache()
        self.deletes.cache()
        if self.bigrams is not None:
            self.bigrams.cache()
        return self

    def unpersist(self) -> "SparkDictionary":
        """Release the cached state tables (non-blocking; safe while
        referenced — later actions fall back to lineage recomputation)."""
        self.words.unpersist(False)
        self.deletes.unpersist(False)
        if self.bigrams is not None:
            self.bigrams.unpersist(False)
        return self

    def save(self, path: str) -> None:
        """Checkpoint analogue of save_pickle (pickle_mixin.py:86-113):
        parquet tables + a JSON properties file carrying the config and
        data version."""
        self.words.write.mode("overwrite").parquet(os.path.join(path, "words"))
        self.deletes.write.mode("overwrite").parquet(os.path.join(path, "deletes"))
        if self.below is not None:
            self.below.write.mode("overwrite").parquet(os.path.join(path, "below"))
        if self.bigrams is not None:
            self.bigrams.write.mode("overwrite").parquet(os.path.join(path, "bigrams"))
        props = {
            "data_version": DATA_VERSION,
            "max_dictionary_edit_distance": self.config.max_dictionary_edit_distance,
            "prefix_length": self.config.prefix_length,
            "count_threshold": self.config.count_threshold,
        }
        with open(os.path.join(path, "properties.json"), "w") as fh:
            json.dump(props, fh)

    def save_bucketed(self, table: str, buckets: int = 64) -> None:
        """Persist the delete index as a Hive-style table bucketed and
        sorted by ``delete_key``.

        At broadcast-prohibitive dictionary sizes (web-scale vocab,
        SURVEY.md §2.1 "Partition/bucket by delete_key"), a bucketed
        index lets every lookup join sort-merge with NO exchange on the
        index side — only the (much smaller) query-key side shuffles to
        the bucket count. Words/properties ride along as plain tables.
        """
        (
            self.deletes.write.mode("overwrite")
            .bucketBy(buckets, "delete_key")
            .sortBy("delete_key")
            .format("parquet")
            .saveAsTable(f"{table}_deletes")
        )
        self.words.write.mode("overwrite").format("parquet").saveAsTable(
            f"{table}_words"
        )
        props = self.spark.createDataFrame(
            [
                (
                    DATA_VERSION,
                    self.config.max_dictionary_edit_distance,
                    self.config.prefix_length,
                    self.config.count_threshold,
                )
            ],
            "data_version INT, max_dictionary_edit_distance INT, "
            "prefix_length INT, count_threshold INT",
        )
        props.write.mode("overwrite").format("parquet").saveAsTable(
            f"{table}_props"
        )

    @classmethod
    def load_bucketed(
        cls, spark: SparkSession, table: str
    ) -> "SparkDictionary":
        """Reload a ``save_bucketed`` dictionary; the deletes DataFrame
        carries the bucket spec, so joins on ``delete_key`` skip the
        index-side exchange."""
        p = spark.table(f"{table}_props").collect()[0]
        if p.data_version != DATA_VERSION:
            raise ValueError(
                f"incompatible data_version {p.data_version}, "
                f"expected {DATA_VERSION}"
            )
        cfg = EngineConfig(
            max_dictionary_edit_distance=p.max_dictionary_edit_distance,
            prefix_length=p.prefix_length,
            count_threshold=p.count_threshold,
        )
        return cls(
            spark=spark,
            config=cfg,
            words=spark.table(f"{table}_words"),
            deletes=spark.table(f"{table}_deletes"),
        )

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, config: EngineConfig | None = None
    ) -> "SparkDictionary":
        """Checkpoint analogue of load_pickle (pickle_mixin.py:115-162):
        reject on data_version mismatch; warn-and-adopt stored settings
        when they differ from the caller's (pickle_mixin.py:140-148)."""
        import logging

        with open(os.path.join(path, "properties.json")) as fh:
            props = json.load(fh)
        if props.get("data_version") != DATA_VERSION:
            raise ValueError(
                f"incompatible data_version {props.get('data_version')}, "
                f"expected {DATA_VERSION}"
            )
        stored = EngineConfig(
            max_dictionary_edit_distance=props["max_dictionary_edit_distance"],
            prefix_length=props["prefix_length"],
            count_threshold=props["count_threshold"],
        )
        if config is not None and (
            config.max_dictionary_edit_distance
            != stored.max_dictionary_edit_distance
            or config.prefix_length != stored.prefix_length
            or config.count_threshold != stored.count_threshold
        ):
            logging.getLogger(__name__).warning(
                "checkpoint settings %s differ from requested settings; "
                "adopting checkpoint settings",
                props,
            )
        words = spark.read.parquet(os.path.join(path, "words"))
        deletes = spark.read.parquet(os.path.join(path, "deletes"))
        below = None
        bigrams = None
        if os.path.isdir(os.path.join(path, "below")):
            below = spark.read.parquet(os.path.join(path, "below"))
        if os.path.isdir(os.path.join(path, "bigrams")):
            bigrams = spark.read.parquet(os.path.join(path, "bigrams"))
        return cls(
            spark=spark,
            config=stored,
            words=words,
            deletes=deletes,
            below=below,
            bigrams=bigrams,
        )
