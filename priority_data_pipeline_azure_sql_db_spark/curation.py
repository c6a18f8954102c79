"""Config-driven corpus curation — the reference's core identity
(declarative extraction config -> pipeline run; SURVEY.md §1.1
extractionConfig) carried over to the training-data tier: a curation
run is DATA, not code, so the same reviewed JSON document that a team
ships to production also replays locally, diffs in version control,
and parameterizes A/B corpus builds.

A ``CurationConfig`` declares an ordered stage list; ``build_curation``
composes the corresponding operators into ONE DataFrame plan (no
materialization between stages — Catalyst sees the whole chain):

    {"stages": [
        {"op": "linify", "width": 8},
        {"op": "boilerplate_lines", "min_docs": 2},
        {"op": "quantile_gate", "drop_num": 1, "drop_den": 5},
        {"op": "source_cap", "cap": 10},
    ]}

Unknown ops and invalid parameters fail loudly at BUILD time (the
config reviewer's error, not a 3 a.m. executor stack trace). Stage
semantics are exactly the standalone operators the oracle harness
verifies (operators/dedup.py, operators/sample.py) — config-built
plans are pytest-asserted equal to the hand-built capstone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.dedup import remove_boilerplate_lines
from .operators.sample import cap_per_group, quantile_threshold_filter
from .operators.text import alpha_count

_ALPHA_SCORE_DOC = "alpha-character ratio of the current text"


def _alpha_score(col):
    return (
        alpha_count(col).cast("double")
        / F.greatest(F.length(col), F.lit(1)).cast("double")
    )


def _stats_or_alpha_score(df: DataFrame):
    """The alpha-ratio score, from the boilerplate stage's per-line-sum
    stats when they rode along (round 18) — value-identical to
    ``_alpha_score(text)`` (``_n_alpha``/``_n_chars`` ARE
    alpha_count(text)/length(text), proven linear over the whitespace
    join in remove_boilerplate_lines) but free of any reference to
    ``text``, so Catalyst prunes the collect_list reassembly from
    every decision consumer's subtree."""
    if {"_n_alpha", "_n_chars"} <= set(df.columns):
        return (
            F.col("_n_alpha").cast("double")
            / F.greatest(F.col("_n_chars"), F.lit(1)).cast("double")
        )
    return _alpha_score(F.col("text"))


_STATS_COLS = ("_n_chars", "_n_alpha", "_n_tokens")


def _drop_stale_stats(df: DataFrame) -> DataFrame:
    """Drop the boilerplate stage's per-line-sum stats when a stage is
    about to MUTATE text (round-19 ADVICE fix): the stats are exact for
    the text they were computed over, and a config like
    [boilerplate_lines(stats), linify, quantile_gate] would otherwise
    silently score stale sums against the rewrapped text —
    _stats_or_alpha_score trusts the columns whenever they exist."""
    stale = [c for c in _STATS_COLS if c in df.columns]
    return df.drop(*stale) if stale else df


def _linify(df: DataFrame, width: int) -> DataFrame:
    from .operators.scale import spread_if_narrow

    df = _drop_stale_stats(df)
    # round 18: adaptively spread BEFORE the tokenize+re-wrap — built
    # over a narrow scan (single-row-group fixture file) the whole
    # linify expression otherwise evaluates inside the one scan task,
    # below the downstream boilerplate stage's pinned exchange (the
    # exchange ships the ALREADY-LINIFIED text, so it cannot help).
    # Identity at real scale.
    df = spread_if_narrow(df, "doc_id")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), "\\s+"),
        lambda x: x != F.lit(""),
    )
    d = df.withColumn("_toks", toks)
    n_lines = (
        F.floor((F.size("_toks") + F.lit(width - 1)) / F.lit(width))
        .cast("int")
    )
    lines = F.when(
        F.size("_toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat_ws(
                " ", F.slice("_toks", i * F.lit(width) + 1, width)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.withColumn("text", F.concat_ws("\n", lines)).drop("_toks")


def build_curation(docs: DataFrame, config: dict) -> DataFrame:
    """Compose the configured stage chain over a (doc_id, text, source)
    relation. Returns the admitted rows with whatever bookkeeping
    columns the final stage adds. Raises ``ValueError`` on unknown ops
    or invalid parameters — at build time, before any job runs: building
    only composes the plan and never executes any part of it.

    Stages that rewrite text (``html_extract``, ``boilerplate_lines``)
    pass the relation's other columns through their operator (the
    operators' ``carry``) instead of joining them back by ``doc_id``. A
    join-back is a second consumer of everything upstream — Catalyst
    prunes each consumer's columns differently, so ReuseExchange cannot
    share the copies, and the HTML parse and the DSIR scoring would run
    once per consumer. Carrying assumes ``doc_id`` is a key (one row
    per id), the contract every curation input already has; rows with
    a null ``doc_id`` are dropped, as the inner join-backs did.

    Side effect (documented per round-19 ADVICE): a ``dsir`` stage
    followed by a multi-consumer decision tail ``.cache()``s its narrow
    admitted-id set, and a ``quantile_gate`` caches its narrow decision
    proxy (operators/sample.quantile_threshold_filter) — neither is
    unpersisted here. Long-lived applications composing many curation
    plans should clear them (``spark.catalog.clearCache()`` or a scoped
    unpersist) between builds; the bench harness does so per attempt."""
    stages = config.get("stages")
    if not stages:
        raise ValueError("curation config has no stages")

    def need(st, i, *keys):
        missing = [k for k in keys if k not in st]
        if missing:
            raise ValueError(
                f"stage {i} ({st.get('op')}): missing parameter(s) {missing}"
            )

    df = docs
    skip_next = False
    # Tracks whether the chain so far ends in a join/aggregate whose
    # exchange ReuseExchange can share across the gate's decision
    # consumers (round 19): when it does, the gate's narrow proxy must
    # NOT cache — the heavy map side already runs once via the shared
    # exchange, and the InMemoryRelation costs extra (measured ~5% on
    # the dsir capstone at sf0.1) while holding corpus-sized narrow
    # rows in executor memory at scale where the disk-backed shuffle is
    # the better medium. Cache only pays when the proxy sits directly
    # over a scan + expensive projection (filter_quality_quantile's
    # shape — nothing to reuse, every consumer would re-scan).
    # html_extract does NOT count: its stage ends in the Python kernel,
    # and the spread exchange it shares sits BELOW the kernel, so every
    # decision consumer would run the HTML parse again.
    exchange_topped = False
    for i, st in enumerate(stages):
        if skip_next:
            skip_next = False
            continue
        op = st.get("op")
        if op in ("boilerplate_lines", "dsir", "temperature_mix"):
            exchange_topped = True
        if op == "html_extract":
            # optional FIRST stage (round 13): raw crawl HTML → text —
            # the C4/CCNet step upstream of linify/quality gates. Reads
            # the configured html column, REPLACES text with the
            # extracted main content, and keeps every other column.
            from .operators.text import (
                HTML_MAX_LINK_DENSITY,
                HTML_MIN_BLOCK_LEN,
                extract_main_content,
            )

            html_col = str(st.get("html_col", "html"))
            if html_col not in df.columns:
                raise ValueError(
                    f"stage {i}: html_extract needs a {html_col!r} column"
                )
            # stats computed over pre-extraction text are stale for the
            # replaced text — drop, never carry (round-19 ADVICE fix)
            df = _drop_stale_stats(df)
            extra = [c for c in df.columns
                     if c not in ("doc_id", html_col, "text")]
            if extra:
                # the other columns pass through the kernel (carry), so
                # the input has one consumer; this filter keeps the
                # inner join-back's semantics, which dropped null ids
                df = df.filter(F.col("doc_id").isNotNull())
            df = extract_main_content(
                df, html_col, "doc_id",
                min_len=int(st.get("min_len", HTML_MIN_BLOCK_LEN)),
                max_link_density=float(
                    st.get("max_link_density", HTML_MAX_LINK_DENSITY)),
                carry=extra,
            ).withColumnRenamed("content", "text")
        elif op == "linify":
            width = int(st.get("width", 8))
            if width < 1:
                raise ValueError(f"stage {i}: linify width must be >= 1")
            df = _linify(df, width)
        elif op == "boilerplate_lines":
            # this stage's own outputs supersede any an earlier
            # boilerplate stage left (its stats describe the old text)
            df = _drop_stale_stats(df).drop("n_lines_kept", "n_lines_dropped")
            extra = [c for c in df.columns if c not in ("doc_id", "text")]
            # "stats": true (round 18) — emit _n_chars/_n_alpha/
            # _n_tokens per-line sums from the reassembly aggregate;
            # a downstream quantile_gate/source_cap then scores from
            # the stats instead of the reassembled text, and Catalyst
            # prunes the collect_list reassembly out of every consumer
            # that doesn't read text (see remove_boilerplate_lines).
            df = remove_boilerplate_lines(
                df, min_docs=int(st.get("min_docs", 2)),
                emit_stats=bool(st.get("stats", False)), carry=extra,
            )
        elif op == "quantile_gate":
            need(st, i, "drop_num", "drop_den")
            df = df.withColumn("score", _stats_or_alpha_score(df))
            # Decide on a NARROW proxy, attach once (round 18, the
            # decide-with-small-rows pattern): the gate consumes its
            # input twice (histogram + filter) and a following
            # source_cap twice more — over the full rows that is four
            # executions of the whole upstream chain (linify →
            # boilerplate reassembly → score), and caching the full
            # rows measured WORSE than the re-execution (text-bearing
            # InMemoryRelation, see quantile_threshold_filter). The
            # decisions run over (doc_id[, source], score) — narrow
            # enough for the operator's cache — and the admitted ids
            # join back to the full rows in ONE attach: exactly two
            # upstream executions at any decision-stage count. An
            # immediately following source_cap folds into the same
            # proxy (its stage slot is consumed here).
            nxt = stages[i + 1] if i + 1 < len(stages) else None
            fuse_cap = (
                isinstance(nxt, dict) and nxt.get("op") == "source_cap"
                and "source" in df.columns and "cap" in nxt
                and "doc_id" in df.columns
            )
            # "project" (round 18): when the caller declares the
            # columns it needs from the admitted rows — and text is
            # not among them — the decisions AND the output both come
            # from the cached narrow proxy, and the attach join back
            # to the full rows is elided entirely: the upstream chain
            # executes exactly ONCE (the proxy population) instead of
            # twice. This is the missing half of the decide-on-proxy
            # pattern for consumers that never read text (the
            # capstones take score and n_tokens from the boilerplate
            # stage's stat sums). Declared in config — reviewable
            # data, loud build-time errors — because only the caller
            # knows text is dead downstream; Catalyst cannot prune a
            # join it must assume changes row multiplicity.
            proj = st.get("project")
            if proj is not None:
                proj = [str(c) for c in proj]
                # de-duplicate while preserving order (round-19 ADVICE
                # fix): duplicate names would emit duplicate output
                # columns from the final select
                _seen: set = set()
                proj = [c for c in proj
                        if not (c in _seen or _seen.add(c))]
                if not fuse_cap:
                    raise ValueError(
                        f"stage {i}: quantile_gate 'project' requires an "
                        "immediately following source_cap stage (the "
                        "fused no-attach path)"
                    )
                if "text" in proj:
                    raise ValueError(
                        f"stage {i}: 'project' must not include text — "
                        "projecting text requires the attach join this "
                        "option exists to elide; omit 'project' instead"
                    )
                # 'score' is added by this stage and 'rank_in_group' by
                # the fused cap (and appended to the output anyway) —
                # both are legitimately declarable (round-19 ADVICE fix)
                missing = [c for c in proj
                           if c not in df.columns
                           and c not in ("score", "rank_in_group")]
                if missing:
                    raise ValueError(
                        f"stage {i}: 'project' names missing column(s) "
                        f"{missing}"
                    )
            if "doc_id" in df.columns:
                decision_cols = ["doc_id", "score"] + (
                    ["source"] if fuse_cap else [])
                if proj is not None:
                    decision_cols += [
                        c for c in proj if c not in decision_cols]
                narrow = df.select(*decision_cols)
                gated_n = quantile_threshold_filter(
                    narrow, "score",
                    int(st["drop_num"]), int(st["drop_den"]),
                    cache_input=not exchange_topped,
                ).drop("_qbucket")
                if fuse_cap:
                    capped_n = cap_per_group(
                        gated_n, ["source"], "score",
                        cap=int(nxt["cap"]),
                    )
                    if proj is not None:
                        # no attach: the proxy rows ARE the output
                        # (rank_in_group appended unless declared)
                        out_cols = proj + (
                            [] if "rank_in_group" in proj
                            else ["rank_in_group"])
                        df = capped_n.select(*out_cols)
                    else:
                        # the capped set is <= cap x |sources| rows BY
                        # CONTRACT — broadcast the attach at any scale
                        # (static size estimates saw an aggregate and
                        # planned a sort-merge join that shuffled the
                        # full-text side by doc_id)
                        df = df.join(
                            F.broadcast(
                                capped_n.select(
                                    "doc_id", "rank_in_group")),
                            "doc_id",
                        )
                    skip_next = True
                else:
                    df = df.join(
                        gated_n.select("doc_id"), "doc_id", "left_semi")
            else:
                # no id to attach by: inline gate over the full rows
                # (uncached — see the width note on the operator)
                df = quantile_threshold_filter(
                    df, "score",
                    int(st["drop_num"]), int(st["drop_den"]),
                    cache_input=False,
                ).drop("_qbucket")
        elif op == "source_cap":
            if "source" not in df.columns:
                raise ValueError(f"stage {i}: source_cap needs a source column")
            need(st, i, "cap")
            if "score" not in df.columns:
                df = df.withColumn("score", _stats_or_alpha_score(df))
            df = cap_per_group(
                df, ["source"], "score", cap=int(st["cap"])
            )
        elif op == "hash_sample":
            from .operators.sample import hash_sample

            need(st, i, "fraction")
            df = hash_sample(
                df, "doc_id", float(st["fraction"]),
                salt=str(st.get("salt", "")),
            )
        elif op == "dsir":
            # target-conditioned importance selection (round 15, VERDICT
            # r14 ask #3): DSIR log-weights scored against a TARGET
            # slice of the ORIGINAL input relation (the distribution you
            # want more of is defined on raw corpus attributes — a later
            # stage may have dropped the filter column or mutated text),
            # with q fitted on the CURRENT curated state (the corpus
            # actually being selected from). Keeps rows whose log
            # importance weight clears the threshold; zero-bigram rows
            # have NULL weight and drop (no evidence of target
            # affinity). Same composability contract as every other
            # stage: pure DataFrame ops, one Catalyst plan, no
            # materialization.
            # dsir_scored, not the full dsir_log_weights surface: the
            # threshold gate drops no-evidence (NULL-weight) rows
            # anyway, so the universe distinct + left-join that keeps
            # zero-bigram docs visible would be a corpus-wide shuffle
            # bought for rows this stage immediately discards (round 15)
            from .operators.sample import dsir_scored

            need(st, i, "target_filter")
            if df is docs:
                # round 19 — the SELF-TARGET fusion: the dsir stage is
                # FIRST (df is still the raw input relation the target
                # filter is defined over), so the membership predicate
                # rides the one corpus tokenize+md5 pass as a flag and
                # the separate target tokenize pass disappears
                # (operators/sample.dsir_scored target_flag). Identical
                # counts, identical weights.
                w = dsir_scored(
                    df, None,
                    text_col="text", id_col="doc_id",
                    n_buckets=int(st.get("n_buckets", 4096)),
                    alpha=float(st.get("alpha", 0.5)),
                    target_flag=F.expr(str(st["target_filter"])),
                )
            else:
                target = docs.filter(str(st["target_filter"]))
                w = dsir_scored(
                    df.select("doc_id", "text"), target,
                    text_col="text", id_col="doc_id",
                    n_buckets=int(st.get("n_buckets", 4096)),
                    alpha=float(st.get("alpha", 0.5)),
                )
            thr = float(st.get("threshold", 0.0))
            keep = w.filter(F.col("log_weight") > thr).select("doc_id")
            # round 18: cache the NARROW admitted-id set. A downstream
            # quantile_gate/source_cap tail executes the whole curated
            # chain twice (proxy build + attach — see the quantile_gate
            # stage note), and the proxy's sealed InMemoryRelation
            # boundary keeps ReuseExchange from sharing the DSIR
            # scoring subtree (corpus tokenize+md5 pass, ratio table,
            # scoring join) across those executions — it recomputed in
            # full on the attach side. Cached, the scoring machinery
            # runs ONCE and the second execution starts from the id
            # set. Decision-column projection only (the round's cache
            # policy); the bench clears caches per attempt, so
            # population stays inside the timed region.
            # Round 19 (ADVICE): gated on the chain actually executing
            # upstream twice — when a downstream quantile_gate declares
            # "project" (the no-attach single-execution path) the id
            # set is referenced exactly once per run and the cache is
            # pure overhead (an InMemoryRelation materialization plus
            # an undocumented side effect for library callers). NOTE
            # for long-lived callers: when the cache IS taken it is
            # never unpersisted by build_curation — call
            # spark.catalog.clearCache() (the bench does, per attempt)
            # or unpersist via df.sparkSession.catalog when composing
            # many curation plans in one application.
            single_exec_tail = any(
                isinstance(s2, dict) and s2.get("op") == "quantile_gate"
                and s2.get("project") is not None
                for s2 in stages[i + 1:]
            )
            if not single_exec_tail:
                keep = keep.cache()
            df = df.join(keep, "doc_id")
        elif op == "temperature_mix":
            from .operators.sample import temperature_mix_sample

            if "source" not in df.columns:
                raise ValueError(
                    f"stage {i}: temperature_mix needs a source column"
                )
            kept_cols = df.columns
            mixed = temperature_mix_sample(
                df, source_col="source", id_col="doc_id",
                alpha=float(st.get("alpha", 0.5)),
                target_frac=float(st.get("target_frac", 0.5)),
                seed=str(st.get("seed", "mix-0")),
            ).select("doc_id")
            df = df.join(mixed, "doc_id").select(*kept_cols)
        else:
            raise ValueError(f"stage {i}: unknown curation op {op!r}")
    return df
