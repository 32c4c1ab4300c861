"""Relational + LLM-pipeline operators.

- :mod:`.joins` — star-schema broadcast joins (SURVEY §2.3 J1-J6)
- :mod:`.rollups` — group enumeration, top-N per group, monthly rollups
  (SURVEY §2.4 A4-A6)
- :mod:`.dedup` — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  embedding near-dup deduplication
- :mod:`.similarity` — ANN over embedding columns (brute cosine top-k,
  LSH-bucketed scale path)
- :mod:`.text` — language-ID, quality scoring, token counting,
  fingerprinting
- :mod:`.multimodal` — opaque binary columns + typed metadata plumbing
- :mod:`.graph` — PageRank/PPR/HITS, BFS + weighted shortest paths,
  triangles, k-core, LPA + modularity, link prediction, item-item CF
- :mod:`.timeseries` — gap fill, EWMA, autocorrelation, anomalies,
  CUSUM changepoints, gap histograms, time-weighted averages
- :mod:`.sampling` — stratified/exact splits, hash-ranked samples,
  shuffle shards, domain mixing, sequence packing
- :mod:`.profiling` — column profiles, drift (KS/chi-square/Benford),
  FK orphan audits
- :mod:`.sketches` — md5 Count-Min audits, HLL rollups, mergeable
  histogram percentiles
- :mod:`.process_mining` — directly/eventually-follows footprint
- :mod:`.contribution` — ABC/Pareto classes without a global window
- :mod:`.basket` / :mod:`.skyline` / :mod:`.spatial` / :mod:`.asof` /
  :mod:`.skew` / :mod:`.grouped` / :mod:`.product_analytics`
"""
