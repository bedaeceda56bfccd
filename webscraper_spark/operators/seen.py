"""URL-seen set: one exact anti-join on the canonical url (J1/ST2).

The reference avoids re-visits only through loop structure (each ad visited
once per harvested list, cars_controller.rb:147) — re-runs duplicate whole
files (12x AH-SCHACHTSCHNEIDER CSVs in the reference's lib/data/). Here the
seen set is the union of every completed wave's fetched urls, and a wave's
candidates are the frontier rows whose url is not in it.

Catalyst's runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter,
on by default) already prunes the probe side of this join when the seen
side is large. An explicit per-bucket bloom in front of the exact join
pays off only once the seen side can no longer be broadcast or co-located;
on the crawl benchmark it was slower than the plain join at every scale up
to sf0.1 (17k to 171k URLs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """candidates MINUS seen (by canonical url)."""
    return candidates.join(seen.select("url"), "url", "left_anti")
