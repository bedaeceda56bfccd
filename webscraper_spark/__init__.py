"""webscraper_spark — a PySpark-native crawl-frontier + extraction engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference Ruby scraper (PhilippHamm/webscraper, read-only at /root/reference):
frontier scheduling, politeness-aware fetch, vectorized HTML extraction,
eligibility filtering, derived tags, a pricing matrix with 41-row variant
explosion and the Shopify import sheet.

Spark-first design: everything is declared with the DataFrame API so Catalyst
handles pushdown/pruning/join-selection; Python only ever runs inside
Arrow-batched pandas UDFs (never per-row).
"""

__version__ = "0.1.0"
