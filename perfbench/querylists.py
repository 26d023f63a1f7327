"""The registry_pass query list, frozen so every commit runs the same work.

Each part was picked by a rule over the registry as it stood when the
benchmark was defined, never by speed:

* RELATIONAL: every 16th ``s*``/``d*``/``j*``/``jb*``/``sql_tpch_*``
  registration in registry order, starting with the first (5 of 76).
* CURATION: for each module the ``x*`` registrations import
  (``operators/text``, ``dedup``, ``similarity``, ``lexical``, ``sampling``,
  ``profile``, ``mergeable``, ``functions/bpe``, ``bloom``, ``skew``), the
  first ``x*`` registration in registry order whose body imports that
  module and no other of them, so its time is that module's.  No
  registration isolates ``lexical`` or ``bloom`` (each of their users
  imports another of the modules too), so those two have no pick.
  ``functions/vector`` is reached through ``operators/similarity``, so the
  similarity pick covers it; ``operators/rank`` is imported by no ``x*``
  registration (its users are ``s_rank_*``).
* LIFECYCLES: the first of the hand-written availableNow drains
  (``m4_stateful_running_anomalies``).

The list is a sample sized so that a check pass plus a timed pass fit the
benchmark's per-run budget; README.md records what was left out and why.
"""

RELATIONAL = [
    "s25_priority_stats",
    "j4_anti_join_inactive_customers",
    "d18_time_range_moving",
    "sql_tpch_q13",
    "s_grouping_sets",
]

CURATION = [
    "x4_text_profile",  # operators/text
    "x4_bpe_token_ids",  # functions/bpe
    "x1_exact_dedup",  # operators/dedup
    "x7_mixture_resample",  # operators/sampling
    "x3_bruteforce_top10",  # operators/similarity, functions/vector
    "x9_histogram_drift",  # operators/profile
    "x_salted_distinct",  # functions/skew
    "x_mergeable_stats",  # operators/mergeable
]

LIFECYCLES = [
    "m4_stateful_running_anomalies",
]


def family(name: str) -> str:
    """The registry family a query belongs to: s, d, j, sql, x or m."""
    if name.startswith("sql_"):
        return "sql"
    return name[0]


QUERY_LIST = RELATIONAL + CURATION + LIFECYCLES
