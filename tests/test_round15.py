"""Round-15 tests: independent python models for the survival,
isotonic-calibration, HITS, and randomized-response queries (oracle
parity proves engine agreement; these catch shared-blind-spot bugs)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import travel_data_pipeline_spark.registry  # noqa: F401  (import order)


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_nelson_aalen_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        nelson_aalen_hazard,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [(r.user_id, r.ts.date()) for r in
          load_table(spark, sf_smoke, "events")
          .select("user_id", "ts").collect()]
    days, last = defaultdict(set), {}
    for u, d in ev:
        days[u].add(d)
        last[u] = max(last.get(u, d), d)
    max_day = max(last.values())
    # lifetime = active-day count (ADVICE r10 #5)
    lives = [(len(days[u]), 1 if last[u] == max_day else 0)
             for u in days]
    byt = defaultdict(lambda: [0, 0])
    for t, c in lives:
        byt[t][c] += 1  # [deaths, censored]
    n_risk = len(lives)
    h = vh = 0.0
    want = {}
    for t in sorted(byt):
        d, c = byt[t]
        if d > 0:
            h += d / n_risk
            vh += d / (n_risk * n_risk)
            want[t] = (d, n_risk, h, vh, math.exp(-h))
        n_risk -= d + c
    got = {r.t: r for r in nelson_aalen_hazard(spark, sf_smoke).collect()}
    assert set(got) == set(want)
    for t, (d, nr, hh, vv, s) in want.items():
        row = got[t]
        assert (row.d, row.n_risk) == (d, nr)
        assert abs(row.cum_hazard - hh) < 1e-6
        assert abs(row.var_hazard - vv) < 1e-6
        assert abs(row.fh_survival - s) < 1e-6
    # cumulative hazard must be nondecreasing in t
    hs = [got[t].cum_hazard for t in sorted(got)]
    assert hs == sorted(hs)


def _pava(y: list[float], w: list[int]) -> list[float]:
    """Classic sequential pool-adjacent-violators (the algorithm the
    minimax closed form must reproduce)."""
    blocks = [[y[i], w[i]] for i in range(len(y))]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] > blocks[i + 1][0] + 1e-15:
            v1, w1 = blocks[i]
            v2, w2 = blocks[i + 1]
            blocks[i:i + 2] = [[(v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2]]
            i = max(i - 1, 0)
        else:
            i += 1
    out = []
    for v, ww in blocks:
        out.extend([v] * ww)
    return out


def test_isotonic_minimax_equals_pava(spark, sf_smoke):
    """The relational minimax form must equal sequential PAVA on the
    actual bin relation, and the fit must be monotone."""
    from travel_data_pipeline_spark.queries_round15 import (
        isotonic_calibration_bins,
    )
    from travel_data_pipeline_spark.queries_round8 import (
        calibration_binned,
    )

    bins = sorted(
        [(r.bin, r.n, r.n_pos)
         for r in calibration_binned(spark, sf_smoke).collect()])
    rates = [p / n for _, n, p in bins]
    weights = [n for _, n, _ in bins]
    # _pava expands each weighted block back to weight-many entries;
    # the first entry of each bin's span is that bin's fitted value
    blocks = _pava(rates, weights)
    per_bin = []
    pos = 0
    for w in weights:
        per_bin.append(blocks[pos])
        pos += w
    got = {r.bin: r for r in
           isotonic_calibration_bins(spark, sf_smoke).collect()}
    assert sorted(got) == [b for b, _, _ in bins]
    for (b, _n, _p), fit in zip(bins, per_bin):
        assert abs(got[b].iso_rate - fit) < 1e-6, (b, got[b].iso_rate, fit)
    iso_seq = [got[b].iso_rate for b, _, _ in bins]
    assert iso_seq == sorted(iso_seq)
    # the fit must differ from the raw rates somewhere UNLESS the raw
    # rates are already monotone (otherwise the test proves nothing)
    if rates != sorted(rates):
        assert any(abs(got[b].iso_rate - got[b].pos_rate) > 1e-9
                   for b, _, _ in bins)


def test_hits_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _HITS_ITER,
        hits_supplier_part,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    li = [(r.l_suppkey, r.l_partkey) for r in
          load_table(spark, sf_smoke, "lineitem")
          .select("l_suppkey", "l_partkey").collect()]
    w = defaultdict(int)
    for s, p in li:
        w[(s, p)] += 1
    hub = {s: 1.0 for s, _ in w}
    auth = {}
    for _ in range(_HITS_ITER):
        auth = defaultdict(float)
        # sorted by s within each p: mirror the pinned fold order
        by_p = defaultdict(list)
        for (s, p), ww in w.items():
            by_p[p].append((s, ww))
        for p, lst in by_p.items():
            acc = 0.0
            for s, ww in sorted(lst):
                acc += ww * hub[s]
            auth[p] = acc
        m = max(auth.values())
        auth = {p: v / m for p, v in auth.items()}
        by_s = defaultdict(list)
        for (s, p), ww in w.items():
            by_s[s].append((p, ww))
        hub = {}
        for s, lst in by_s.items():
            acc = 0.0
            for p, ww in sorted(lst):
                acc += ww * auth[p]
            hub[s] = acc
        m = max(hub.values())
        hub = {s: v / m for s, v in hub.items()}
    got = hits_supplier_part(spark, sf_smoke).collect()
    got_hub = {r.node_id: r.score for r in got if r.role == "hub"}
    got_auth = {r.node_id: r.score for r in got if r.role == "authority"}
    assert set(got_hub) == set(hub) and set(got_auth) == set(auth)
    for s, v in hub.items():
        assert abs(got_hub[s] - v) < 1e-5
    for p, v in auth.items():
        assert abs(got_auth[p] - v) < 1e-5
    # normalization contract: max score is exactly 1 on both roles
    assert max(got_hub.values()) == 1.0
    assert max(got_auth.values()) == 1.0


def test_randomized_response_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _RR_KEEP_DEN,
        _RR_KEEP_NUM,
        _RR_THRESH,
        randomized_response_debias,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [(r.event_id, r.event_type, r.value) for r in
          load_table(spark, sf_smoke, "events")
          .select("event_id", "event_type", "value").collect()]
    agg = defaultdict(lambda: [0, 0, 0])  # n, n_true, n_reported
    for eid, et, v in ev:
        truth = 1 if v is not None and v > _RR_THRESH else 0
        keep = _md5_long(f"rrkeep:{eid}") % _RR_KEEP_DEN
        coin = _md5_long(f"rrcoin:{eid}") % 2
        rep = truth if keep < _RR_KEEP_NUM else coin
        a = agg[et]
        a[0] += 1
        a[1] += truth
        a[2] += rep
    p_keep = _RR_KEEP_NUM / _RR_KEEP_DEN
    got = {r.event_type: r
           for r in randomized_response_debias(spark, sf_smoke).collect()}
    assert set(got) == set(agg)
    for et, (n, nt, nr) in agg.items():
        row = got[et]
        assert (row.n, row.n_true, row.n_reported) == (n, nt, nr)
        deb = (nr / n - (1 - p_keep) * 0.5) / p_keep
        assert abs(row.debiased_rate - deb) < 1e-6
        assert abs(row.true_rate - nt / n) < 1e-6
        # the debiased estimate should sit near the hidden true rate
        # (binomial noise at n~200: generous 0.25 tolerance)
        assert abs(deb - nt / n) < 0.25


def test_sax_daily_motifs_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _SAX_B1,
        _SAX_B2,
        _SAX_W,
        sax_daily_motifs,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [r.ts.date() for r in load_table(spark, sf_smoke, "events")
          .select("ts").collect()]
    daily = defaultdict(int)
    for d in ev:
        daily[d] += 1
    counts = [daily[d] for d in sorted(daily)]
    n = len(counts)
    s = sum(counts)
    ss = sum(c * c for c in counts)
    mean = s / n
    std = math.sqrt((ss - s * s / n) / (n - 1))
    frames = []
    for f in range(n // _SAX_W):
        chunk = counts[f * _SAX_W:(f + 1) * _SAX_W]
        if len(chunk) == _SAX_W:
            frames.append((sum(chunk) / _SAX_W - mean) / std)
    sym = ["a" if z < _SAX_B1 else ("b" if z < _SAX_B2 else "c")
           for z in frames]
    words = defaultdict(list)
    for i in range(len(sym) - 2):
        words["".join(sym[i:i + 3])].append(i)
    got = {r.word: r for r in sax_daily_motifs(spark, sf_smoke).collect()}
    assert set(got) == set(words)
    for w, occ in words.items():
        row = got[w]
        assert row.support == len(occ)
        assert row.is_motif == (1 if len(occ) >= 2 else 0)
        assert (row.first_frame, row.last_frame) == (min(occ), max(occ))


def test_rank_biased_overlap_matches_python(spark, sf_smoke):
    from decimal import Decimal

    from travel_data_pipeline_spark.queries_round15 import (
        _RBO_D,
        _RBO_P,
        rank_biased_overlap,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    li = [(r.l_partkey, Decimal(str(round(r.l_extendedprice, 2))),
           Decimal(str(round(r.l_discount, 2))),
           Decimal(str(round(r.l_quantity, 2))))
          for r in load_table(spark, sf_smoke, "lineitem")
          .select("l_partkey", "l_extendedprice", "l_discount",
                  "l_quantity").collect()]
    rev = defaultdict(Decimal)
    qty = defaultdict(Decimal)
    for p, ep, d, q in li:
        rev[p] += ep * (1 - d)
        qty[p] += q
    top_rev = [p for p, _ in sorted(rev.items(),
                                    key=lambda kv: (-kv[1], kv[0]))][:_RBO_D]
    top_qty = [p for p, _ in sorted(qty.items(),
                                    key=lambda kv: (-kv[1], kv[0]))][:_RBO_D]
    want = 0.0
    for d in range(1, _RBO_D + 1):
        a = len(set(top_rev[:d]) & set(top_qty[:d]))
        want += (1 - _RBO_P) * _RBO_P ** (d - 1) * a / d
    row = rank_biased_overlap(spark, sf_smoke).collect()[0]
    assert row.depth == _RBO_D
    assert abs(row.rbo - want) < 1e-6
    assert 0.0 <= row.rbo <= 1.0


def test_decision_stump_matches_bruteforce(spark, sf_smoke):
    import re

    from travel_data_pipeline_spark.queries_round15 import (
        _STUMP_FEATS,
        decision_stump_gini,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    docs = [r.text for r in load_table(spark, sf_smoke, "documents")
            .select("text").collect()]
    rows = []
    for text in docs:
        n_chars = len(text)
        alpha = len(re.sub(r"[^A-Za-z]", "", text))
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip()
                .split(" ") if t]
        n_tokens = len(toks)
        ar = round(alpha / max(n_chars, 1), 6)
        mwl = round(alpha / max(n_tokens, 1), 6)
        sym = round((n_chars - alpha) / max(n_chars, 1), 6)
        ll = round(math.log10(n_chars + 1.0), 6)
        truth = 1 if (n_tokens >= 10 and mwl <= 12.0
                      and sym <= 0.35) else 0
        rows.append({"alpha_ratio": ar, "mean_word_len": mwl,
                     "log_len": ll, "truth": truth})
    got = {r.feature: r
           for r in decision_stump_gini(spark, sf_smoke).collect()}
    assert set(got) == set(_STUMP_FEATS)
    n_total = len(rows)
    for feat in _STUMP_FEATS:
        vals = sorted({round(min(r[feat], 50.0), 2) for r in rows})
        best = None
        for t in vals:
            left = [r for r in rows
                    if round(min(r[feat], 50.0), 2) <= t]
            if len(left) == n_total:
                continue
            right = [r for r in rows
                     if round(min(r[feat], 50.0), 2) > t]

            def gini(part):
                if not part:
                    return 0.0
                p = sum(r["truth"] for r in part) / len(part)
                return 1.0 - p * p - (1 - p) * (1 - p)

            g = (len(left) * gini(left)
                 + len(right) * gini(right)) / n_total
            if best is None or g < best[1] - 1e-12:
                best = (t, g, len(left), len(right))
        t, g, nl, nr = best
        row = got[feat]
        assert (row.n_left, row.n_right) == (nl, nr), feat
        assert abs(row.threshold - t) < 1e-9
        assert abs(row.gini - g) < 1e-6
        # a split must beat or match the unsplit impurity
        base = (lambda p: 1 - p * p - (1 - p) * (1 - p))(
            sum(r["truth"] for r in rows) / n_total)
        assert row.gini <= base + 1e-9


def test_burrows_delta_matches_python(spark, sf_smoke):
    import re

    from travel_data_pipeline_spark.queries_round15 import (
        _BD_K,
        burrows_delta_stylometry,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    docs = [(r.source, r.text)
            for r in load_table(spark, sf_smoke, "documents")
            .select("source", "text").collect()]
    cnt = defaultdict(int)
    tot = defaultdict(int)
    word_tot = defaultdict(int)
    for src, text in docs:
        for w in re.sub(r"\s+", " ", text.lower()).strip().split(" "):
            if w:
                cnt[(src, w)] += 1
                tot[src] += 1
                word_tot[w] += 1
    topw = [w for w, _ in sorted(word_tot.items(),
                                 key=lambda kv: (-kv[1], kv[0]))][:_BD_K]
    sources = sorted(tot)
    f = {(s, w): cnt.get((s, w), 0) / tot[s]
         for s in sources for w in topw}
    z = {}
    for w in topw:
        xs = [f[(s, w)] for s in sources]  # source-sorted (pinned)
        n = len(xs)
        sm = 0.0
        ssm = 0.0
        for x in xs:
            sm += x
        for x in xs:
            ssm += x * x
        var = (ssm - sm * sm / n) / (n - 1)
        for s in sources:
            z[(s, w)] = (0.0 if var <= 0.0
                         else (f[(s, w)] - sm / n) / math.sqrt(var))
    got = {(r.source_a, r.source_b): r.delta
           for r in burrows_delta_stylometry(spark, sf_smoke).collect()}
    assert len(got) == len(sources) * (len(sources) - 1) // 2
    for i, a in enumerate(sources):
        for b in sources[i + 1:]:
            want = sum(abs(z[(a, w)] - z[(b, w)])
                       for w in topw) / _BD_K
            assert abs(got[(a, b)] - want) < 1e-6, (a, b)


def test_scaling_law_fit_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        scaling_law_loglog_fit,
    )
    from travel_data_pipeline_spark.queries_round8 import (
        data_scaling_ladder,
    )

    lad = sorted((r.rung, r.n_tokens, r.vocab)
                 for r in data_scaling_ladder(spark, sf_smoke).collect())
    sx = sy = sxx = syy = sxy = 0.0
    for _, nt, v in lad:  # rung order (pinned)
        lx, ly = math.log(nt), math.log(v)
        sx += lx
        sy += ly
    for _, nt, v in lad:
        lx, ly = math.log(nt), math.log(v)
        sxx += lx * lx
        syy += ly * ly
        sxy += lx * ly
    n = len(lad)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    denom = (n * sxx - sx * sx) * (n * syy - sy * sy)
    row = scaling_law_loglog_fit(spark, sf_smoke).collect()[0]
    assert row.n_rungs == n
    assert abs(row.heaps_beta - beta) < 1e-6
    assert abs(row.ln_k - (sy - sx * beta) / n) < 1e-6
    if denom <= 0.0:
        assert row.r2 is None
    else:
        assert abs(row.r2 - (n * sxy - sx * sy) ** 2 / denom) < 1e-6
    # Heaps exponent is bounded: the synthetic corpus draws from a
    # CLOSED 31-word vocabulary, so beta ~ 0 here (vocab saturates at
    # rung 0); on an open vocabulary 0 < beta < 1
    vocabs = {v for _, _, v in lad}
    if len(vocabs) == 1:
        assert abs(row.heaps_beta) < 1e-3
    else:
        assert 0.0 < row.heaps_beta < 1.0


def test_group_sequential_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _GS_BOUNDS,
        _GS_LOOKS,
        _GS_STEP,
        group_sequential_boundaries,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [(r.user_id, r.ts.date(), r.event_type) for r in
          load_table(spark, sf_smoke, "events")
          .select("user_id", "ts", "event_type").collect()]
    d0 = min(d for _, d, _ in ev)
    first_day = {}
    first_purchase = {}
    for u, d, t in ev:
        dd = (d - d0).days
        first_day[u] = min(first_day.get(u, dd), dd)
        if t == "purchase":
            first_purchase[u] = min(first_purchase.get(u, dd), dd)
    got = {r.look: r
           for r in group_sequential_boundaries(spark, sf_smoke).collect()}
    assert sorted(got) == list(range(1, _GS_LOOKS + 1))
    prev_n = 0
    for k in range(1, _GS_LOOKS + 1):
        end = k * _GS_STEP
        users = [u for u, fd in first_day.items() if fd < end]
        n_c = sum(1 for u in users
                  if _md5_long(f"ab:{u}") % 2 == 0)
        n_t = len(users) - n_c
        x_c = sum(1 for u in users
                  if _md5_long(f"ab:{u}") % 2 == 0
                  and first_purchase.get(u, 10 ** 9) < end)
        x_t = sum(1 for u in users
                  if _md5_long(f"ab:{u}") % 2 == 1
                  and first_purchase.get(u, 10 ** 9) < end)
        row = got[k]
        assert (row.n_c, row.n_t, row.x_c, row.x_t) == (n_c, n_t, x_c, x_t)
        p = (x_c + x_t) / (n_c + n_t)
        if 0 < p < 1:
            z = ((x_t / n_t - x_c / n_c)
                 / math.sqrt(p * (1 - p) * (1 / n_c + 1 / n_t)))
            assert abs(row.z - z) < 1e-6
        assert abs(row.boundary - float(_GS_BOUNDS[k])) < 1e-12
        assert row.crossed == (1 if abs(row.z) > row.boundary else 0)
        # looks are cumulative: population never shrinks
        assert n_c + n_t >= prev_n
        prev_n = n_c + n_t
    # OF boundaries are strictly decreasing over looks
    bs = [got[k].boundary for k in range(1, _GS_LOOKS + 1)]
    assert bs == sorted(bs, reverse=True)


def test_geometric_median_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _GM_EPS,
        _GM_ITERS,
        geometric_median_embeddings,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    emb = [(r.label, r.vec_id, [float(x) for x in r.embedding])
           for r in load_table(spark, sf_smoke, "embeddings").collect()]
    by_label = defaultdict(list)
    for lab, vid, v in emb:
        by_label[lab].append((vid, v))
    got = {(r.label, r.dim_idx): r
           for r in geometric_median_embeddings(spark, sf_smoke).collect()}
    for lab, vecs in by_label.items():
        vecs = sorted(vecs)  # vec_id-pinned
        dims = len(vecs[0][1])
        m = []
        for j in range(dims):
            s = 0.0
            for _, v in vecs:
                s += v[j]
            m.append(round(s / len(vecs), 6))
        m0 = list(m)
        for _ in range(_GM_ITERS):
            ds = []
            for _, v in vecs:
                ss = 0.0
                for j in range(dims):
                    ss += (v[j] - m[j]) * (v[j] - m[j])
                ds.append(max(math.sqrt(ss), _GM_EPS))
            wsum = 0.0
            for d in ds:
                wsum += 1.0 / d
            new_m = []
            for j in range(dims):
                num = 0.0
                for (_, v), d in zip(vecs, ds):
                    num += v[j] / d
                new_m.append(round(num / wsum, 6))
            m = new_m
        for j in range(dims):
            row = got[(lab, j)]
            assert abs(row.geo_median - m[j]) < 2e-6, (lab, j)
            assert abs(row.centroid - m0[j]) < 2e-6
            assert abs(row.shift - round(abs(m[j] - m0[j]), 6)) < 2e-6


def test_group_sequential_stream_twin_bit_equal(spark, sf_smoke,
                                                tmp_path):
    """The streaming monitor's readout must be BIT-EQUAL to the batch
    group_sequential_boundaries once the state has absorbed the same
    events, and re-feeding already-absorbed data (fresh checkpoint,
    same state) must be a no-op — min-folding is idempotent."""
    import travel_data_pipeline_spark.streaming.jobs as J
    from tests.test_round14 import _write_feed_file
    from travel_data_pipeline_spark.queries_round15 import (
        group_sequential_boundaries,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = (load_table(spark, sf_smoke, "events")
          .select("event_id", "ts", "user_id", "event_type", "value"))
    rows = sorted((r.event_id, r.ts, r.user_id, r.event_type, r.value)
                  for r in ev.collect())
    d0 = min(r[1] for r in rows).date().isoformat()
    feed = tmp_path / "gsfeed"
    feed.mkdir()
    half = len(rows) // 2
    _write_feed_file(spark, str(feed / "b0.parquet"), rows[:half],
                     1700000000)
    _write_feed_file(spark, str(feed / "b1.parquet"), rows[half:],
                     1700000100)
    state = str(tmp_path / "gsstate")

    def run(ckpt):
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "event_type string, value double")
                  .option("maxFilesPerTrigger", 1).parquet(str(feed)))
        q = J.group_sequential_stream(stream, state,
                                      str(tmp_path / ckpt), d0)
        q.awaitTermination(300)

    run("ck1")
    batch = {tuple(r) for r in
             group_sequential_boundaries(spark, sf_smoke).collect()}
    stream_out = {tuple(r) for r in
                  J.group_sequential_readout(spark, state).collect()}
    assert stream_out == batch

    from travel_data_pipeline_spark.sources import versioned

    v_before = versioned.current_version(state)
    run("ck2")  # fresh checkpoint, same feed: redelivery of everything
    after = {tuple(r) for r in
             J.group_sequential_readout(spark, state).collect()}
    assert after == batch  # min-merge absorbed the replay: no drift
    assert versioned.current_version(state) > v_before  # it DID fold


def test_hmm_viterbi_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _HMM_EMIT,
        _HMM_MAXLEN,
        _HMM_START,
        _HMM_TRANS,
        hmm_viterbi_sessions,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [(r.user_id, r.ts, r.event_id, r.event_type) for r in
          load_table(spark, sf_smoke, "events")
          .select("user_id", "ts", "event_id", "event_type").collect()]
    seqs = defaultdict(list)
    for u, ts, eid, x in ev:
        seqs[u].append((ts, eid, x))
    got = {r.user_id: r
           for r in hmm_viterbi_sessions(spark, sf_smoke).collect()}
    assert set(got) == set(seqs)
    for u, rows in seqs.items():
        xs = [x for _, _, x in sorted(rows)][:_HMM_MAXLEN]
        sc = list(_HMM_START)
        paths = ["", "", ""]
        for x in xs:
            ns, np_ = [], []
            for j in range(3):
                c = [sc[i] + _HMM_TRANS[i][j] for i in range(3)]
                if c[0] >= c[1] and c[0] >= c[2]:
                    b, i = c[0], 0
                elif c[1] >= c[2]:
                    b, i = c[1], 1
                else:
                    b, i = c[2], 2
                ns.append(b + _HMM_EMIT[x][j])
                np_.append(paths[i] + str(j))
            sc, paths = ns, np_
        bi = (0 if (sc[0] >= sc[1] and sc[0] >= sc[2])
              else (1 if sc[1] >= sc[2] else 2))
        row = got[u]
        assert row.n_events == len(xs)
        assert row.path == paths[bi], u
        assert abs(row.logprob - sc[bi]) < 1e-6
        # the decode is a valid state string of the right length
        assert len(row.path) == len(xs)
        assert set(row.path) <= {"0", "1", "2"}


def test_median_polish_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _MP_SWEEPS,
        median_polish_day_hour,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [(r.ts.date().isoformat(), r.ts.hour) for r in
          load_table(spark, sf_smoke, "events").select("ts").collect()]
    grid = defaultdict(float)
    for d, h in ev:
        grid[(d, h)] += 1.0

    def med(vals):
        vs = sorted(vals)
        n = len(vs)
        return vs[n // 2] if n % 2 == 1 else (vs[n // 2 - 1]
                                              + vs[n // 2]) / 2.0

    r = dict(grid)
    deff = defaultdict(float)
    heff = defaultdict(float)
    for _ in range(_MP_SWEEPS):
        days = defaultdict(list)
        for (d, h), v in r.items():
            days[d].append(v)
        dm = {d: med(vs) for d, vs in days.items()}
        r = {(d, h): v - dm[d] for (d, h), v in r.items()}
        for d, m in dm.items():
            deff[d] += m
        hours = defaultdict(list)
        for (d, h), v in r.items():
            hours[h].append(v)
        hm = {h: med(vs) for h, vs in hours.items()}
        r = {(d, h): v - hm[h] for (d, h), v in r.items()}
        for h, m in hm.items():
            heff[h] += m
    got = {(row.day, row.hour): row
           for row in median_polish_day_hour(spark, sf_smoke).collect()}
    assert set(got) == set(grid)
    for (d, h), res in r.items():
        row = got[(d, h)]
        assert abs(row.residual - res) < 1e-9, (d, h)
        assert abs(row.day_effect - deff[d]) < 1e-9
        assert abs(row.hour_effect - heff[h]) < 1e-9
    # decomposition identity: count == day_eff + hour_eff + residual
    # up to the overall term median polish leaves in the effects
    for (d, h), v in grid.items():
        row = got[(d, h)]
        assert abs((row.day_effect + row.hour_effect + row.residual)
                   - v) < 1e-9


def test_consistent_hash_rebalance_matches_python(spark, sf_smoke):
    """Python ring model + the defining property: adding a shard moves
    docs ONLY onto the new shard (moved_in == 0 everywhere else)."""
    import bisect

    from travel_data_pipeline_spark.queries_round15 import (
        _CH_N,
        _CH_V,
        consistent_hash_rebalance,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    def ring(n_shards):
        r = sorted((_md5_long(f"ring:{s}:{v}"), s)
                   for s in range(n_shards) for v in range(_CH_V))
        return r

    ra, rb = ring(_CH_N), ring(_CH_N + 1)

    def owner(r, h):
        i = bisect.bisect_left(r, (h, -1))
        return r[i][1] if i < len(r) else r[0][1]

    docs = [r.doc_id for r in load_table(spark, sf_smoke, "documents")
            .select("doc_id").collect()]
    before = defaultdict(int)
    after = defaultdict(int)
    moved = defaultdict(int)
    for d in docs:
        h = _md5_long(f"doc:{d}")
        b, a = owner(ra, h), owner(rb, h)
        before[b] += 1
        after[a] += 1
        if a != b:
            moved[a] += 1
    got = {r.shard: r
           for r in consistent_hash_rebalance(spark, sf_smoke).collect()}
    assert sorted(got) == list(range(_CH_N + 1))
    for s in range(_CH_N + 1):
        row = got[s]
        assert (row.n_before, row.n_after, row.moved_in) == (
            before[s], after[s], moved[s]), s
    # defining property: all movement lands on the NEW shard
    assert all(got[s].moved_in == 0 for s in range(_CH_N))
    assert got[_CH_N].moved_in == got[_CH_N].n_after
    total = sum(got[s].n_before for s in range(_CH_N + 1))
    # new shard takes roughly 1/(N+1) of the corpus (generous band)
    assert 0.02 < got[_CH_N].n_after / total < 0.4


def test_bloom_size_planner_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _BF_COLS,
        _BF_LN2,
        _BF_LN_P,
        bloom_size_planner,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    got = {r.relation: r
           for r in bloom_size_planner(spark, sf_smoke).collect()}
    assert set(got) == {f"{t}.{c}" for t, c in _BF_COLS}
    for t, c in _BF_COLS:
        n = (load_table(spark, sf_smoke, t)
             .select(c).distinct().count())
        row = got[f"{t}.{c}"]
        m = math.ceil(-(n * _BF_LN_P) / (_BF_LN2 * _BF_LN2))
        k = max(1, round((m / n) * _BF_LN2))
        assert row.n == n
        assert row.m_bits == m
        assert row.k_hashes == k
        est = (1.0 - math.exp(-(k * n) / m)) ** k
        assert abs(row.est_fpp - est) < 1e-6
        # the plan must meet its target within the approximation slack
        assert row.est_fpp < 0.012


def test_negbin_length_fit_matches_python(spark, sf_smoke):
    import re

    from travel_data_pipeline_spark.queries_round15 import (
        negbin_length_fit,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    docs = [(r.source, r.text)
            for r in load_table(spark, sf_smoke, "documents")
            .select("source", "text").collect()]
    lens = defaultdict(list)
    for src, text in docs:
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip()
                .split(" ") if t]
        lens[src].append(len(toks))
    got = {r.source: r for r in negbin_length_fit(spark,
                                                  sf_smoke).collect()}
    assert set(got) == set(lens)
    for src, ls in lens.items():
        n = len(ls)
        m = sum(ls) / n
        row = got[src]
        assert row.n_docs == n
        assert abs(row.mean_len - m) < 1e-6
        if n <= 1:
            # (n-1)=0: var/dispersion are NULL, not Inf (ADVICE r10 #1)
            assert row.var_len is None
            assert row.dispersion_index is None
            assert row.p_hat is None and row.r_hat is None
            continue
        v = (sum(x * x for x in ls) - sum(ls) ** 2 / n) / (n - 1)
        assert abs(row.var_len - v) < 1e-6
        assert abs(row.dispersion_index - v / m) < 1e-6
        if n <= 1 or v <= m:
            assert row.p_hat is None and row.r_hat is None
        else:
            assert abs(row.p_hat - m / v) < 1e-6
            assert abs(row.r_hat - m * m / (v - m)) < 1e-6
            assert 0.0 < row.p_hat < 1.0  # overdispersed => valid NB


def test_lru_cache_hit_audit_matches_python(spark, sf_smoke):
    from travel_data_pipeline_spark.queries_round15 import (
        _LRU_MAXLEN,
        lru_cache_hit_audit,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    ev = [(r.user_id, r.ts, r.event_id, r.event_type) for r in
          load_table(spark, sf_smoke, "events")
          .select("user_id", "ts", "event_id", "event_type").collect()]
    seqs = defaultdict(list)
    for u, ts, eid, x in ev:
        seqs[u].append((ts, eid, x))
    got = {r.user_id: r
           for r in lru_cache_hit_audit(spark, sf_smoke).collect()}
    assert set(got) == set(seqs)
    for u, rows in seqs.items():
        xs = [x for _, _, x in sorted(rows)][:_LRU_MAXLEN]
        mru = lru = None
        hits = 0
        for x in xs:
            if x == mru:
                hits += 1
            elif x == lru:
                hits += 1
                mru, lru = x, mru
            else:
                mru, lru = x, mru
        row = got[u]
        assert row.n_events == len(xs)
        assert row.hits == hits, u
        assert abs(row.hit_rate - hits / len(xs)) < 1e-6
        # 5 event types, capacity 2: hit rate bounded away from 1
        assert row.hit_rate < 1.0


def test_hits_iter_seconds_one_wall_per_iteration(spark, sf_smoke):
    """hits_from_edges ends each iteration on an eager checkpoint, so
    ``iter_seconds`` receives one positive wall per iteration."""
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark.queries_round15 import (
        _HITS_ITER,
        hits_from_edges,
    )
    from travel_data_pipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    edges = (li.groupBy(F.col("l_suppkey").alias("s"),
                        F.col("l_partkey").alias("p"))
             .agg(F.count("*").cast("double").alias("w")))

    walls: list = []
    assert hits_from_edges(spark, edges, iter_seconds=walls).count() > 0
    assert len(walls) == _HITS_ITER and all(w > 0 for w in walls)
