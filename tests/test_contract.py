"""Driver-contract regression net: every declared query runs at sf0.001 and
returns a well-formed DataFrame; oracle keys match query keys; entry()
produces the flagship rows.  Catches accidental breakage of any single
query before the driver does."""

from __future__ import annotations

import pytest

import __spark_entry__ as contract

# Queries whose semantics legitimately may return 0 rows at tiny scale.
MAY_BE_EMPTY = {"rel_join_anti", "dedup_simhash_near", "dedup_winnow_overlap",
                "sim_cosine_near_dups_banded", "dedup_minhash_near",
                "dedup_ngram_jaccard", "search_phrase_match",
                "stream_interval_join_1h", "text_contamination"}


def test_oracle_keys_subset_of_queries():
    qs, os_ = contract.queries(), contract.oracle_sql()
    assert set(os_) <= set(qs)
    missing_oracle = set(qs) - set(os_)
    # Every declared query has an oracle twin — including the
    # width-adaptive sim_cosine_top_pairs_scaled, whose oracle re-derives
    # the band width from count(*) with the same integer inequality as
    # band_width_for and evaluates the plane sums for runtime r via nested
    # range() lambdas.  The rows-only set is EMPTY; keep it that way.
    assert missing_oracle == set()


def test_entry_smoke(spark):
    rows = contract.entry(spark).collect()
    assert len(rows) == 10
    assert set(rows[0].asDict()) == {"doc_id", "score"}


@pytest.mark.parametrize("name", sorted(contract.queries()))
def test_query_runs(spark, sf_dir, name):
    df = contract.queries()[name](spark, sf_dir)
    rows = df.collect()
    assert df.columns, name
    assert len(set(df.columns)) == len(df.columns), f"{name}: dup columns"
    if name not in MAY_BE_EMPTY:
        assert rows, f"{name} returned 0 rows at sf0.001"
