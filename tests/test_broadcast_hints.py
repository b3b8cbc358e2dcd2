"""Broadcast-hint allowlist: every `F.broadcast(...)` in the package must
wrap a side that is BOUNDED — constant-size (literal frames, 1-row
aggregates, fixed grids), bounded-domain aggregates (per-segment /
per-bin / per-nation state), explicit top-k / limit outputs, or the
documented query-side / benchmark-slice doctrine sets.  SF-proportional
sides (customer, supplier, part, per-customer / per-user / per-doc
aggregates, corpus-derived id sets) must NOT carry a hint: at 100 TB a
forced broadcast of a data-proportional set exceeds the broadcast
ceiling and fails the job, while AQE picks broadcast from the measured
size whenever the side actually fits (the round-8/9 doctrine —
pipeline_corpus_build, pipeline_funnel, dedup_simhash, and the round-9
sweep over the TPC-H / ml / graph / stats / timeseries operators).

This test inventories every hint by (file, enclosing function,
argument token) and compares against the reviewed allowlist below.
Adding a new `F.broadcast` makes it fail until the new site is reviewed
for boundedness and added here; removing one requires pruning the
entry — either way the diff shows up in review next to the code that
changed.  Keying on the enclosing FUNCTION (innermost def, by AST line
ranges) means swapping an allowlisted bounded frame for a new unbounded
one that reuses the same variable name elsewhere in the file now fails
the inventory instead of slipping through.

The one deliberate proportional-looking entry: operators/joins.py `p`
(join_broadcast) is the explicit-hint OPERATOR DEMO — its docstring
carries the caveat that the pattern is only for caller-known-bounded
dims.
"""

from __future__ import annotations

import os
import re
from collections import Counter

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "kafka_hadoop_loader_spark")

# (relative path under the package) -> {"<enclosing def>.<argument
# token>": count}.  The token is the first identifier inside
# F.broadcast(; the qualifier is the innermost enclosing function
# ("<module>" for module level).
ALLOWED = {
    # 1-row max
    "operators/aggregates.py": {
        "agg_share_reused_exchange.best": 1,
    },
    # per-source aggs; 1-row certificate
    "operators/dedup.py": {
        "_star_cluster_labels.cert": 1,
        "dedup_source_contamination.b": 1,
    },
    # |nations| rollups; 1-row certs
    "operators/graph.py": {
        "graph_assortativity.n_nodes": 1,
        "graph_connected_components.cert": 1,
        "graph_kcore.cert": 1,
        "nation_trade_balance.exp": 1,
        "nation_trade_balance.imp": 1,
    },
    # literal bands; calendar days; OPERATOR DEMO (see module doc)
    "operators/joins.py": {
        "join_broadcast.p": 1,
        "join_dpp_partitioned.days": 1,
        "join_range.bands": 1,
    },
    # 1-row min/max
    "operators/layout.py": {
        "shard_plan_balanced.g": 1,
    },
    # per-segment/per-bin/per-class model state; 1-row domains
    "operators/ml.py": {
        "_lr_step.betas": 1,
        "conformal_interval_coverage.model": 2,
        "conformal_interval_coverage.q": 1,
        "feature_target_encoding.g": 1,
        "feature_target_encoding.seg": 1,
        "kmeans_embeddings.cent": 1,
        "ml_calibration_ece.betas": 1,
        "ml_calibration_ece.tot": 1,
        "ml_isotonic_calibration.betas": 1,
        "ml_isotonic_calibration.iso": 2,
        "ml_isotonic_calibration.ivl": 1,
        "ml_isotonic_calibration.pk": 1,
        "ml_isotonic_calibration.pm": 1,
        "ml_isotonic_calibration.prev": 1,
        "ml_logreg_rational.betas": 1,
        "ml_naive_bayes.dom": 1,
        "ml_naive_bayes.l1": 1,
        "ml_naive_bayes.l2": 1,
        "ml_naive_bayes.l3": 1,
        "ml_naive_bayes.p": 1,
        "pca_power_component.m": 1,
    },
    # bench = benchmark-slice doctrine (bounded in production); rest 1-row / per-band
    "operators/pipeline.py": {
        "decontaminate_ngram.bench": 1,
        "mixture_solve_rates.tot": 1,
        "pipeline_corpus_build.bench": 1,
        "pipeline_funnel.bench": 1,
        "sample_importance_reweight.target": 1,
        "sample_importance_reweight.tot": 1,
        "t_closeness_audit.bands": 1,
        "t_closeness_audit.tot": 1,
    },
    "operators/profile.py": {
        "skew_profile.tot": 1,
    },
    "operators/quality.py": {
        "drift_category_chi2.bounds": 1,
        "drift_category_chi2.tot": 1,
        "drift_numeric_ks.bounds": 1,
        "drift_numeric_ks.tot": 1,
        "props_key_profile.n": 1,
        "quality_benford_audit.census": 1,
        "quality_benford_audit.tot": 1,
        "table_profile.mode": 1,
    },
    # unigram-vocabulary Heaps-law sides; 1-row totals; query-set doctrine
    "operators/search.py": {
        "bm25_rank.dfs": 1,
        "bm25_rank.nd": 1,
        "cooccur_pmi.a": 1,
        "cooccur_pmi.b": 1,
        "cooccur_pmi.tot": 1,
        "doc_sparse_cosine.df": 1,
        "doc_sparse_cosine.n_docs": 1,
        "keyword_search.df": 1,
        "keyword_search.n_docs": 1,
        "retrieval_mrr_audit.nd": 1,
        "retrieval_mrr_audit.qterms": 1,
    },
    # bounded query sides (vec_id < N_QUERIES), codebooks, literal grids
    "operators/similarity.py": {
        "_ivf_assign.cent": 1,
        "ann_ivf_probe_frontier.exact": 1,
        "ann_ivf_probe_frontier.hits": 1,
        "ann_ivf_probe_frontier.nps": 1,
        "ann_ivf_probe_frontier.nv": 1,
        "ann_matryoshka_recall.q": 1,
        # r14: audited Q x K answer tables broadcast into the recall
        # hits joins (bounded: N_QUERIES x top-K rows by construction)
        "ann_pq_recall_audit.pq": 1,
        "ann_pq_recall_audit.q": 1,
        "ann_recall_audit.ap": 1,
        "assign.cent": 1,
        "embedding_label_centroid_dist.cent": 1,
        "knn_cosine_blocked.q": 1,
        "knn_cosine_blocked.shards": 1,
        "knn_cosine_bruteforce.q": 1,
        "knn_cosine_lsh.ctab": 1,
        "knn_pq_adc.qd": 1,
        "knn_pq_adc.shortlist": 1,
        "sample_hard_negatives.q": 1,
    },
    "operators/sketch.py": {
        "quantiles_tdigest.env": 1,
        "sketch_cms_heavy_hitters.cms": 1,
        "sketch_hll_distinct.truth": 1,
        "sketch_kmv_setops.ex": 1,
        "sketch_kmv_setops.sb": 1,
        "sketch_kmv_setops.su": 1,
    },
    "operators/spatial.py": {
        "kmeans_seed_farthest.c1": 1,
        "kmeans_seed_farthest.cent": 1,
        "kmeans_seed_farthest.ci": 1,
        "spatial_dbscan_grid.cert": 1,
        "spatial_dbscan_grid.d": 1,
        "spatial_dbscan_grid.d2": 1,
        "spatial_join_grid.rect_cells": 1,
    },
    # 64-word bloom; 1-row medians/anchors; per-bucket counts
    "operators/stats.py": {
        "basket_part_affinity.n_orders": 1,
        "basket_part_affinity.sa": 1,
        "basket_part_affinity.sb": 1,
        "bloom_filter_probe.bloom": 2,
        "events_uplift_did.bounds": 1,
        "orders_abc_classification.tot": 1,
        "orders_rfm_segments.anchor": 1,
        "orders_segment_migration.bounds": 1,
        "orders_segment_migration.medn": 1,
        "orders_segment_migration.medr": 1,
        "orders_survival_km.facs": 1,
        "orders_survival_km.mx": 1,
        "orders_survival_km.tot": 1,
        "stats_bootstrap_ci.sorted_ms": 1,
        "stats_mad_robust.med": 1,
        "stats_winsorize.cuts": 1,
        "supplier_concentration_hhi.n": 1,
    },
    "operators/textstats.py": {
        "text_bigram_kneser_ney.btot": 1,
        "text_bigram_kneser_ney.cont": 1,
        "text_perplexity_proxy.cnt": 1,
        "text_perplexity_proxy.n_total": 1,
        "text_tfidf.n": 1,
    },
    # 1-row bounds/medians; limit(1) query series; 24-row grids
    "operators/timeseries.py": {
        "events_changepoint_cusum.bounds": 1,
        "events_forecast_holt.bounds": 1,
        "events_markov_transitions.tot": 1,
        "forecast_backtest_mase.span": 1,
        "resample_ffill.bounds": 1,
        "resample_interpolate.bounds": 1,
        "ts_acf.bounds": 1,
        "ts_acf.lags": 1,
        "ts_anomaly_seasonal.mad": 1,
        "ts_anomaly_seasonal.med": 1,
        "ts_decompose_classical.seas": 1,
        "ts_similarity_search.q": 2,
        "ts_similarity_search.qnorm": 1,
        "ts_similarity_search.qvec": 1,
    },
    # limit(1)
    "operators/tokenizer.py": {
        "_learn_merged_vocab.top": 1,
    },
    # nation; 1-row scalar
    "operators/tpch.py": {
        "tpch_q10_returns.n": 1,
        "tpch_q22_idle_rich.thresh": 1,
        "tpch_q5_local_supplier.n": 1,
    },
    "operators/tpch2.py": {
        "tpch_q15_top_supplier.top": 1,
        "tpch_q7_volume_shipping.n1": 1,
        "tpch_q7_volume_shipping.n2": 1,
        "tpch_q8_market_share.n1": 1,
        "tpch_q8_market_share.n2": 1,
        "tpch_q8_market_share.r": 1,
        "tpch_q9_product_profit.n": 1,
    },
    "operators/tpch3.py": {
        "tpch_q11_important_stock.nat": 1,
        "tpch_q11_important_stock.total": 1,
        "tpch_q20_promo_suppliers.n": 1,
        "tpch_q21_waiting_suppliers.n": 1,
        "tpch_q2_min_cost_supplier.n": 1,
        "tpch_q2_min_cost_supplier.r": 1,
    },
    # quantile bounds; per-bucket offsets
    "plans/ranking.py": {
        "two_phase_rank.bnds": 1,
        "two_phase_rank.offs": 1,
    },
    # 1-row global max
    "streaming/batch_windows.py": {
        "events_watermark_lag.g": 1,
    },
}

_RX = re.compile(r"F\.broadcast\(\s*([A-Za-z_]\w*)")
_RX_ANY = re.compile(r"F\.broadcast\(")


def _sources():
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                yield rel, fh.read()


def _qualified_tokens(src: str) -> list[str]:
    """"<innermost enclosing def>.<first identifier>" for every
    F.broadcast( site the tokenizer can key."""
    import ast

    ranges = [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for m in _RX.finditer(src):
        line = src[: m.start()].count("\n") + 1
        func, span = "<module>", None
        for s, e, name in ranges:
            if s <= line <= e and (span is None or e - s < span):
                func, span = name, e - s
        out.append(f"{func}.{m.group(1)}")
    return out


def _inventory():
    inv = {}
    for rel, src in _sources():
        toks = _qualified_tokens(src)
        # Fail CLOSED: every F.broadcast( site must tokenize to an
        # identifier the allowlist can key — a site the tokenizer can't
        # see (comment between paren and argument, parenthesized or
        # literal argument) must not silently bypass review.
        n_sites = len(_RX_ANY.findall(src))
        assert n_sites == len(toks), (
            f"{rel}: {n_sites} F.broadcast( sites but only {len(toks)} "
            "tokenized to a leading identifier — rewrite the opaque "
            "site(s) as F.broadcast(<name>) so the allowlist can key it"
        )
        if toks:
            inv[rel] = dict(Counter(toks))
    return inv


def _code_only(src: str) -> str:
    """Blank out string literals and comments, preserving line
    structure, so code-shape scans don't match docstring prose."""
    import io
    import tokenize

    out = []
    prev_end = (1, 0)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in (tokenize.STRING, tokenize.COMMENT):
            text = "\n" * tok.string.count("\n")
        else:
            text = tok.string
        # re-pad the gap between tokens to keep line numbers stable
        (srow, scol), (erow, ecol) = tok.start, tok.end
        prow, pcol = prev_end
        out.append("\n" * (srow - prow))
        out.append(" " * (scol if srow > prow else scol - pcol))
        out.append(text)
        prev_end = tok.end
    return "".join(out)


def test_no_alternate_broadcast_spellings():
    """The allowlist only sees the F.broadcast( spelling; Spark offers
    three more ways to force a broadcast, and all must stay absent from
    the package so they can't bypass the review gate: the DataFrame
    hint method, a bare `broadcast` import, and SQL hint comments
    (which live inside oracle/query strings, so that scan runs on the
    raw source while the bare-call scan runs on a string/comment-
    stripped rendition).  If one is ever legitimately needed, add its
    site-specific scan here alongside the allowlist entry."""
    offenders = []
    for rel, src in _sources():
        code = _code_only(src)
        for text, pat, label in (
            (code, r"(?<!F\.)(?<!\w)broadcast\(", "bare broadcast( call"),
            (src, r"/\*\+\s*(BROADCAST|MAPJOIN|BROADCASTJOIN)", "SQL broadcast hint"),
        ):
            for m in re.finditer(pat, text, re.IGNORECASE):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{rel}:{line}: {label}")
        # .hint("broadcast"): the method name is code but the argument
        # is a string literal, so match the raw source only where the
        # code rendition confirms a .hint( call on the same line.
        hint_lines = {
            code[: m.start()].count("\n") + 1
            for m in re.finditer(r"\.hint\(", code)
        }
        for m in re.finditer(r"\.hint\(\s*['\"]broadcast", src, re.IGNORECASE):
            line = src[: m.start()].count("\n") + 1
            if line in hint_lines:
                offenders.append(f"{rel}:{line}: .hint('broadcast')")
    assert not offenders, (
        "Broadcast spellings outside the F.broadcast allowlist gate:\n  "
        + "\n  ".join(offenders)
    )


def test_broadcast_hints_are_reviewed():
    inv = _inventory()
    problems = []
    for rel, toks in sorted(inv.items()):
        allowed = ALLOWED.get(rel, {})
        for tok, cnt in sorted(toks.items()):
            if cnt != allowed.get(tok, 0):
                problems.append(
                    f"{rel}: F.broadcast({tok}...) x{cnt} "
                    f"(allowlisted: {allowed.get(tok, 0)})"
                )
    for rel, toks in sorted(ALLOWED.items()):
        for tok, cnt in sorted(toks.items()):
            if inv.get(rel, {}).get(tok, 0) != cnt:
                problems.append(
                    f"{rel}: allowlist expects F.broadcast({tok}...) x{cnt}, "
                    f"found {inv.get(rel, {}).get(tok, 0)}"
                )
    assert not problems, (
        "Broadcast-hint inventory drifted from the reviewed allowlist.\n"
        "A hint is only safe on a BOUNDED side (see module docstring); "
        "review each site below, then update ALLOWED:\n  "
        + "\n  ".join(problems)
    )
