"""Native (C, via ctypes) HNSW build+search kernel.

The sharded-HNSW build (`similarity._HnswGraph`) is the honest
O(n log n) cost of the ANN family, and profiling shows it bound by
per-call overhead, not arithmetic: ~26k tiny-`_d2` numpy calls plus the
Python heap/set bookkeeping per 500-vector shard (guide §4.2 — do the
heavy lifting in native code inside the UDF).  This module is a
line-by-line C port of `_HnswGraph` — same exponential levels (computed
in Python from the repo's md5 convention and passed in), same beam
search with (distance, node) lexicographic heap order, same Algorithm-4
neighbor heuristic with the lazy max_m+4 shrink, same id tie-breaks.

Arithmetic note: distances are plain forward-loop double sums, which can
differ from numpy's BLAS reductions in the last ulp.  Graph decisions
therefore only diverge when two candidate distances agree to ~1e-16
relative — measure-zero on the continuous corpora this engine indexes —
and the oracled HNSW queries emit planted-twin recall ranks, which are
invariant to such ties (the twin is the exact nearest neighbor by
construction; d2 values themselves are rounded to 6 decimals before
they ever leave the executor).  `tests/test_hnsw_native.py` pins
EXACT adjacency + search equality against the Python graph on uniform,
clustered (10-gaussian) and the real parquet corpora.

Same deployment contract as ``codec/native_accel.py``: compiled once
per host with the system ``cc`` (``ticdc_spark/native_build.py``), and
any failure falls back to the pure-Python ``_HnswGraph`` — strict
accelerator, never a dependency.
"""

from __future__ import annotations

import ctypes

from ticdc_spark.native_build import load_c_library

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>
#include <math.h>

typedef struct { double d; int64_t node; } hp_t;

typedef struct {
    int64_t n, dim, m, ef_build;
    double *vecs;
    double *sq;
    int64_t *levels;
    int64_t *ids;
    int64_t n_levels;
    /* adjacency: per level, map[l][node] = slot or -1; neigh[l] slot-major */
    int32_t **map;
    int32_t **neigh;
    int32_t **cnt;
    int64_t *lvl_cap;       /* neighbor capacity per level */
    int64_t entry, top;
    /* scratch */
    uint32_t *vis; uint32_t vis_gen;
    hp_t *cand; int64_t cand_cap;
    hp_t *best; int64_t best_cap;
    hp_t *found; int64_t found_cap;
    double *h_ds; double *h_best; double *h_pair;
    double *h_vbuf; double *h_vt;   /* gathered candidates + transpose */
    int64_t *h_ordkey_i;    /* candidate order after sort */
    int32_t *h_kept; int32_t *h_pruned; int32_t *h_cbuf; int32_t *h_tmp;
    int64_t heur_cap;
    int oom;   /* set when a scratch realloc fails; poisons the graph */
} hnsw_t;

static inline double ddot_n(const double *a, const double *b, int64_t n) {
    double s = 0.0;
    for (int64_t i = 0; i < n; i++) s += a[i] * b[i];
    return s;
}

static inline double d2_one(const hnsw_t *g, const double *q, double qq, int64_t i) {
    /* mirrors _d2: (sq[i] - 2*dot) + qq, left-to-right */
    return (g->sq[i] - 2.0 * ddot_n(g->vecs + i * g->dim, q, g->dim)) + qq;
}

/* ---- heaps: total-order comparators make pop order deterministic ---- */
/* cand: min-heap by (d, node) */
static inline int lt_min(hp_t a, hp_t b) {
    return a.d < b.d || (a.d == b.d && a.node < b.node);
}
/* best: max-heap by d, ties -> SMALLER node pops first (python's (-d, node)) */
static inline int lt_max(hp_t a, hp_t b) {
    return a.d > b.d || (a.d == b.d && a.node < b.node);
}

#define HEAP_OPS(NAME, LT)                                                  \
static void NAME##_push(hp_t *h, int64_t *cnt, hp_t v) {                    \
    int64_t i = (*cnt)++;                                                   \
    h[i] = v;                                                               \
    while (i > 0) {                                                         \
        int64_t p = (i - 1) >> 1;                                           \
        if (LT(h[i], h[p])) { hp_t t = h[p]; h[p] = h[i]; h[i] = t; i = p; }\
        else break;                                                         \
    }                                                                       \
}                                                                           \
static hp_t NAME##_pop(hp_t *h, int64_t *cnt) {                             \
    hp_t top = h[0];                                                        \
    h[0] = h[--(*cnt)];                                                     \
    int64_t i = 0;                                                          \
    for (;;) {                                                              \
        int64_t l = 2 * i + 1, r = l + 1, s = i;                            \
        if (l < *cnt && LT(h[l], h[s])) s = l;                              \
        if (r < *cnt && LT(h[r], h[s])) s = r;                              \
        if (s == i) break;                                                  \
        hp_t t = h[s]; h[s] = h[i]; h[i] = t; i = s;                        \
    }                                                                       \
    return top;                                                             \
}

HEAP_OPS(mn, lt_min)
HEAP_OPS(mx, lt_max)

static int cmp_found(const void *pa, const void *pb) {
    const hp_t *a = (const hp_t *)pa, *b = (const hp_t *)pb;
    if (a->d < b->d) return -1;
    if (a->d > b->d) return 1;
    if (a->node < b->node) return -1;
    if (a->node > b->node) return 1;
    return 0;
}

/* sort keys for the heuristic: (ds, id) ascending */
typedef struct { double d; int64_t id; int64_t i; } hkey_t;
static int cmp_hkey(const void *pa, const void *pb) {
    const hkey_t *a = (const hkey_t *)pa, *b = (const hkey_t *)pb;
    if (a->d < b->d) return -1;
    if (a->d > b->d) return 1;
    if (a->id < b->id) return -1;
    if (a->id > b->id) return 1;
    return 0;
}

/* beam search on one layer; results sorted in g->found, count returned */
static int64_t search_layer(hnsw_t *g, const double *q, double qq,
                            int64_t entry, int64_t level, int64_t ef) {
    if (g->oom) return 0;
    if (ef + 1 > g->best_cap) {
        int64_t ncap = 2 * (ef + 1);
        hp_t *nb = (hp_t *)realloc(g->best, ncap * sizeof(hp_t));
        if (nb) g->best = nb;
        hp_t *nf = (hp_t *)realloc(g->found, ncap * sizeof(hp_t));
        if (nf) g->found = nf;
        if (!nb || !nf) { g->oom = 1; return 0; }
        g->best_cap = ncap;
    }
    g->vis_gen++;
    if (g->vis_gen == 0) { memset(g->vis, 0, g->n * sizeof(uint32_t)); g->vis_gen = 1; }
    uint32_t gen = g->vis_gen;
    double d0 = d2_one(g, q, qq, entry);
    g->vis[entry] = gen;
    int64_t ccnt = 0, bcnt = 0;
    hp_t e0; e0.d = d0; e0.node = entry;
    mn_push(g->cand, &ccnt, e0);
    mx_push(g->best, &bcnt, e0);
    const int32_t *map = (level < g->n_levels) ? g->map[level] : NULL;
    const int32_t *neigh = (level < g->n_levels) ? g->neigh[level] : NULL;
    const int32_t *cntl = (level < g->n_levels) ? g->cnt[level] : NULL;
    int64_t cap = (level < g->n_levels) ? g->lvl_cap[level] : 0;
    while (ccnt > 0) {
        hp_t cur = mn_pop(g->cand, &ccnt);
        if (cur.d > g->best[0].d) break;
        if (!map) continue;
        int32_t slot = map[cur.node];
        if (slot < 0) continue;
        int32_t nc = cntl[slot];
        const int32_t *nb = neigh + (int64_t)slot * cap;
        for (int32_t j = 0; j < nc; j++) {
            int32_t nn = nb[j];
            if (g->vis[nn] == gen) continue;
            g->vis[nn] = gen;
            double nd = d2_one(g, q, qq, nn);
            if (bcnt < ef || nd < g->best[0].d) {
                if (ccnt + 1 > g->cand_cap) {
                    hp_t *ncand = (hp_t *)realloc(
                        g->cand, 2 * g->cand_cap * sizeof(hp_t));
                    if (!ncand) { g->oom = 1; return 0; }
                    g->cand = ncand;
                    g->cand_cap *= 2;
                }
                hp_t nv; nv.d = nd; nv.node = nn;
                mn_push(g->cand, &ccnt, nv);
                mx_push(g->best, &bcnt, nv);
                if (bcnt > ef) mx_pop(g->best, &bcnt);
            }
        }
    }
    memcpy(g->found, g->best, bcnt * sizeof(hp_t));
    qsort(g->found, bcnt, sizeof(hp_t), cmp_found);
    return bcnt;
}

/* Algorithm-4 neighbor selection; returns kept count, kept nodes in out */
static int64_t select_heuristic(hnsw_t *g, const double *qv, double qq,
                                const int32_t *cand, int64_t k, int64_t m,
                                int32_t *out) {
    double *ds = g->h_ds, *bst = g->h_best, *pair = g->h_pair;
    hkey_t keys[1];  /* placate old compilers; real buffer below */
    (void)keys;
    hkey_t *ord = (hkey_t *)g->h_ordkey_i;  /* cap: heur_cap * sizeof(hkey_t) */
    for (int64_t i = 0; i < k; i++) {
        ds[i] = d2_one(g, qv, qq, cand[i]);
        ord[i].d = ds[i]; ord[i].id = g->ids[cand[i]]; ord[i].i = i;
    }
    qsort(ord, k, sizeof(hkey_t), cmp_hkey);
    /* pair[i][j] = (sq_i + sq_j) - 2*dot(v_i, v_j).  The dot block runs
       SIMD across j (one accumulator lane per candidate), so each
       (i, j) accumulates in the exact d-ascending order of the scalar
       ddot_n — vector width changes nothing about the result. */
    {
        int64_t dim = g->dim;
        double *restrict vb = g->h_vbuf, *restrict vt = g->h_vt;
        for (int64_t i = 0; i < k; i++)
            memcpy(vb + i * dim, g->vecs + (int64_t)cand[i] * dim,
                   dim * sizeof(double));
        for (int64_t d = 0; d < dim; d++)
            for (int64_t j = 0; j < k; j++)
                vt[d * k + j] = vb[j * dim + d];
        for (int64_t i = 0; i < k; i++) {
            double *restrict row = pair + i * k;
            const double *restrict vi = vb + i * dim;
            for (int64_t j = 0; j < k; j++) row[j] = 0.0;
            for (int64_t d = 0; d < dim; d++) {
                double x = vi[d];
                const double *restrict vtr = vt + d * k;
                for (int64_t j = 0; j < k; j++) row[j] += x * vtr[j];
            }
            double si = g->sq[cand[i]];
            for (int64_t j = 0; j < k; j++)
                row[j] = (si + g->sq[cand[j]]) - 2.0 * row[j];
        }
    }
    for (int64_t i = 0; i < k; i++) bst[i] = INFINITY;
    int32_t *kept = g->h_kept, *pruned = g->h_pruned;
    int64_t kc = 0, pc = 0;
    for (int64_t oi = 0; oi < k; oi++) {
        if (kc >= m) break;
        int64_t i = ord[oi].i;
        if (kc == 0 || ds[i] < bst[i]) {
            kept[kc++] = (int32_t)i;
            for (int64_t j = 0; j < k; j++) {
                double p = pair[j * k + i];
                if (p < bst[j]) bst[j] = p;
            }
        } else {
            pruned[pc++] = (int32_t)i;
        }
    }
    for (int64_t pi = 0; pi < pc && kc < m; pi++) kept[kc++] = pruned[pi];
    for (int64_t t = 0; t < kc; t++) out[t] = cand[kept[t]];
    return kc;
}

static void insert_node(hnsw_t *g, int64_t idx) {
    if (g->oom) return;
    int64_t level = g->levels[idx];
    if (g->entry < 0) { g->entry = idx; g->top = level; return; }
    const double *q = g->vecs + idx * g->dim;
    double qq = g->sq[idx];  /* == ddot(q, q): sq computed by the same loop */
    int64_t ep = g->entry;
    for (int64_t lvl = g->top; lvl > level; lvl--) {
        search_layer(g, q, qq, ep, lvl, 1);
        if (g->oom) return;
        ep = g->found[0].node;
    }
    int64_t start = (level < g->top) ? level : g->top;
    for (int64_t lvl = start; lvl >= 0; lvl--) {
        int64_t fc = search_layer(g, q, qq, ep, lvl, g->ef_build);
        if (g->oom) return;
        int64_t ep_next = g->found[0].node;
        for (int64_t i = 0; i < fc; i++) g->h_cbuf[i] = (int32_t)g->found[i].node;
        int64_t nc = select_heuristic(g, q, qq, g->h_cbuf, fc, g->m, g->h_tmp);
        int64_t cap = g->lvl_cap[lvl];
        int32_t *neigh = g->neigh[lvl];
        int32_t *cntl = g->cnt[lvl];
        const int32_t *map = g->map[lvl];
        int32_t slot_idx = map[idx];
        memcpy(neigh + (int64_t)slot_idx * cap, g->h_tmp, nc * sizeof(int32_t));
        cntl[slot_idx] = (int32_t)nc;
        int64_t max_m = (lvl == 0) ? 2 * g->m : g->m;
        /* h_tmp is reused by the shrink's select_heuristic below, so walk
           the freshly stored copy instead */
        const int32_t *mine = neigh + (int64_t)slot_idx * cap;
        for (int64_t t = 0; t < nc; t++) {
            int32_t nn = mine[t];
            int32_t slot_n = map[nn];
            int32_t *lst = neigh + (int64_t)slot_n * cap;
            int32_t lc = cntl[slot_n];
            int already = 0;
            for (int32_t s = 0; s < lc; s++)
                if (lst[s] == (int32_t)idx) { already = 1; break; }
            if (!already) lst[lc++] = (int32_t)idx;
            if (lc > max_m + 4) {
                const double *vn = g->vecs + (int64_t)nn * g->dim;
                int64_t nc2 = select_heuristic(g, vn, g->sq[nn], lst, lc,
                                               max_m, g->h_tmp);
                memcpy(lst, g->h_tmp, nc2 * sizeof(int32_t));
                lc = (int32_t)nc2;
            }
            cntl[slot_n] = lc;
        }
        ep = ep_next;
    }
    if (level > g->top) { g->top = level; g->entry = idx; }
}

void ticdc_hnsw_free(void *vh) {
    hnsw_t *g = (hnsw_t *)vh;
    if (!g) return;
    for (int64_t l = 0; l < g->n_levels; l++) {
        if (g->map) free(g->map[l]);
        if (g->neigh) free(g->neigh[l]);
        if (g->cnt) free(g->cnt[l]);
    }
    free(g->map); free(g->neigh); free(g->cnt); free(g->lvl_cap);
    free(g->vecs); free(g->sq); free(g->levels); free(g->ids);
    free(g->vis); free(g->cand); free(g->best); free(g->found);
    free(g->h_ds); free(g->h_best); free(g->h_pair); free(g->h_ordkey_i);
    free(g->h_vbuf); free(g->h_vt);
    free(g->h_kept); free(g->h_pruned); free(g->h_cbuf); free(g->h_tmp);
    free(g);
}

int64_t ticdc_hnsw_build(int64_t n, int64_t dim, const double *vecs,
                         const int64_t *levels, const int64_t *ids,
                         int64_t m, int64_t ef_build, void **out) {
    if (n <= 0 || dim <= 0 || m <= 0 || ef_build <= 0) return -1;
    hnsw_t *g = (hnsw_t *)calloc(1, sizeof(hnsw_t));
    if (!g) return -2;
    g->n = n; g->dim = dim; g->m = m; g->ef_build = ef_build;
    g->entry = -1; g->top = -1;
    g->vecs = (double *)malloc(n * dim * sizeof(double));
    g->sq = (double *)malloc(n * sizeof(double));
    g->levels = (int64_t *)malloc(n * sizeof(int64_t));
    g->ids = (int64_t *)malloc(n * sizeof(int64_t));
    if (!g->vecs || !g->sq || !g->levels || !g->ids) { ticdc_hnsw_free(g); return -2; }
    memcpy(g->vecs, vecs, n * dim * sizeof(double));
    memcpy(g->levels, levels, n * sizeof(int64_t));
    memcpy(g->ids, ids, n * sizeof(int64_t));
    for (int64_t i = 0; i < n; i++)
        g->sq[i] = ddot_n(g->vecs + i * dim, g->vecs + i * dim, dim);
    int64_t maxlvl = 0;
    for (int64_t i = 0; i < n; i++) if (levels[i] > maxlvl) maxlvl = levels[i];
    g->n_levels = maxlvl + 1;
    g->map = (int32_t **)calloc(g->n_levels, sizeof(int32_t *));
    g->neigh = (int32_t **)calloc(g->n_levels, sizeof(int32_t *));
    g->cnt = (int32_t **)calloc(g->n_levels, sizeof(int32_t *));
    g->lvl_cap = (int64_t *)calloc(g->n_levels, sizeof(int64_t));
    if (!g->map || !g->neigh || !g->cnt || !g->lvl_cap) { ticdc_hnsw_free(g); return -2; }
    for (int64_t l = 0; l < g->n_levels; l++) {
        int64_t max_m = (l == 0) ? 2 * m : m;
        int64_t cap = max_m + 5;       /* lazy shrink: transient max_m + 5 */
        if (cap < m) cap = m;
        g->lvl_cap[l] = cap;
        int64_t nl = 0;
        for (int64_t i = 0; i < n; i++) if (levels[i] >= l) nl++;
        g->map[l] = (int32_t *)malloc(n * sizeof(int32_t));
        g->neigh[l] = (int32_t *)malloc((nl > 0 ? nl : 1) * cap * sizeof(int32_t));
        g->cnt[l] = (int32_t *)calloc((nl > 0 ? nl : 1), sizeof(int32_t));
        if (!g->map[l] || !g->neigh[l] || !g->cnt[l]) { ticdc_hnsw_free(g); return -2; }
        int32_t slot = 0;
        for (int64_t i = 0; i < n; i++)
            g->map[l][i] = (levels[i] >= l) ? slot++ : -1;
    }
    g->vis = (uint32_t *)calloc(n, sizeof(uint32_t));
    g->vis_gen = 0;
    g->cand_cap = 1024;
    g->cand = (hp_t *)malloc(g->cand_cap * sizeof(hp_t));
    g->best_cap = ef_build + 8;
    g->best = (hp_t *)malloc(g->best_cap * sizeof(hp_t));
    g->found = (hp_t *)malloc(g->best_cap * sizeof(hp_t));
    int64_t hc = ef_build + 8;
    if (hc < 2 * m + 8) hc = 2 * m + 8;
    g->heur_cap = hc;
    g->h_ds = (double *)malloc(hc * sizeof(double));
    g->h_best = (double *)malloc(hc * sizeof(double));
    g->h_pair = (double *)malloc(hc * hc * sizeof(double));
    g->h_vbuf = (double *)malloc(hc * dim * sizeof(double));
    g->h_vt = (double *)malloc(dim * hc * sizeof(double));
    g->h_ordkey_i = (int64_t *)malloc(hc * sizeof(hkey_t));
    g->h_kept = (int32_t *)malloc(hc * sizeof(int32_t));
    g->h_pruned = (int32_t *)malloc(hc * sizeof(int32_t));
    g->h_cbuf = (int32_t *)malloc(hc * sizeof(int32_t));
    g->h_tmp = (int32_t *)malloc(hc * sizeof(int32_t));
    if (!g->vis || !g->cand || !g->best || !g->found || !g->h_ds || !g->h_best ||
        !g->h_pair || !g->h_vbuf || !g->h_vt || !g->h_ordkey_i || !g->h_kept ||
        !g->h_pruned || !g->h_cbuf || !g->h_tmp) { ticdc_hnsw_free(g); return -2; }
    for (int64_t i = 0; i < n; i++) insert_node(g, i);
    if (g->oom) { ticdc_hnsw_free(g); return -3; }  /* scratch realloc failed */
    *out = g;
    return 0;
}

int64_t ticdc_hnsw_search(void *vh, const double *q, int64_t k, int64_t ef,
                          double *out_d, int64_t *out_id) {
    hnsw_t *g = (hnsw_t *)vh;
    if (!g || g->entry < 0) return 0;
    if (g->oom) return -1;
    double qq = ddot_n(q, q, g->dim);
    int64_t ep = g->entry;
    for (int64_t lvl = g->top; lvl > 0; lvl--) {
        search_layer(g, q, qq, ep, lvl, 1);
        if (g->oom) return -1;
        ep = g->found[0].node;
    }
    int64_t beam = (ef > k) ? ef : k;
    int64_t fc = search_layer(g, q, qq, ep, 0, beam);
    if (g->oom) return -1;
    int64_t cnt = (fc < k) ? fc : k;
    for (int64_t i = 0; i < cnt; i++) {
        out_d[i] = g->found[i].d;
        out_id[i] = g->ids[g->found[i].node];
    }
    return cnt;
}

/* test hooks: adjacency export + entry/top */
int64_t ticdc_hnsw_top(void *vh) { return ((hnsw_t *)vh)->top; }
int64_t ticdc_hnsw_entry(void *vh) { return ((hnsw_t *)vh)->entry; }
int64_t ticdc_hnsw_n_levels(void *vh) { return ((hnsw_t *)vh)->n_levels; }

int64_t ticdc_hnsw_neighbors(void *vh, int64_t level, int64_t node,
                             int32_t *out, int64_t cap) {
    hnsw_t *g = (hnsw_t *)vh;
    if (level < 0 || level >= g->n_levels || node < 0 || node >= g->n) return -1;
    int32_t slot = g->map[level][node];
    if (slot < 0) return -1;
    int32_t c = g->cnt[level][slot];
    if (c > cap) return -2;
    memcpy(out, g->neigh[level] + (int64_t)slot * g->lvl_cap[level],
           c * sizeof(int32_t));
    return c;
}
"""


def _build_lib() -> ctypes.CDLL | None:
    """Compile (once per host) and load; any failure returns None and
    callers keep the pure-Python graph."""
    # -ffp-contract=off pins scalar mul+add rounding so the host ISA
    # (-march=native, for the SIMD-across-candidates pair kernel) cannot
    # change any computed distance; the fallback set drops -march=native.
    lib = load_c_library("hnsw", _C_SOURCE,
                         (("-O3", "-march=native", "-ffp-contract=off"),
                          ("-O3", "-ffp-contract=off")))
    if lib is None:
        return None
    try:
        dp = ctypes.POINTER(ctypes.c_double)
        lp = ctypes.POINTER(ctypes.c_int64)
        ip = ctypes.POINTER(ctypes.c_int32)
        lib.ticdc_hnsw_build.restype = ctypes.c_int64
        lib.ticdc_hnsw_build.argtypes = [
            ctypes.c_int64, ctypes.c_int64, dp, lp, lp,
            ctypes.c_int64, ctypes.c_int64, ctypes.POINTER(ctypes.c_void_p)]
        lib.ticdc_hnsw_search.restype = ctypes.c_int64
        lib.ticdc_hnsw_search.argtypes = [
            ctypes.c_void_p, dp, ctypes.c_int64, ctypes.c_int64, dp, lp]
        lib.ticdc_hnsw_free.restype = None
        lib.ticdc_hnsw_free.argtypes = [ctypes.c_void_p]
        for fn in ("ticdc_hnsw_top", "ticdc_hnsw_entry", "ticdc_hnsw_n_levels"):
            getattr(lib, fn).restype = ctypes.c_int64
            getattr(lib, fn).argtypes = [ctypes.c_void_p]
        lib.ticdc_hnsw_neighbors.restype = ctypes.c_int64
        lib.ticdc_hnsw_neighbors.argtypes = [
            ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64, ip, ctypes.c_int64]
        # smoke: 3-point line, nearest of (0,0) must be itself then (1,0)
        import numpy as np

        vecs = np.array([[0.0, 0.0], [1.0, 0.0], [5.0, 0.0]])
        levels = np.zeros(3, dtype=np.int64)
        ids = np.arange(3, dtype=np.int64)
        h = ctypes.c_void_p()
        rc = lib.ticdc_hnsw_build(
            3, 2, vecs.ctypes.data_as(dp), levels.ctypes.data_as(lp),
            ids.ctypes.data_as(lp), 8, 64, ctypes.byref(h))
        if rc != 0:
            return None
        out_d = np.zeros(3)
        out_i = np.zeros(3, dtype=np.int64)
        n = lib.ticdc_hnsw_search(
            h, vecs[0].ctypes.data_as(dp), 3, 8,
            out_d.ctypes.data_as(dp), out_i.ctypes.data_as(lp))
        lib.ticdc_hnsw_free(h)
        if n != 3 or list(out_i) != [0, 1, 2] or out_d[1] != 1.0:
            return None
        return lib
    except Exception:  # noqa: BLE001 — accelerator only, never required
        return None


LIB = _build_lib()


class NativeHnsw:
    """ctypes wrapper with the same ``search`` contract as ``_HnswGraph``."""

    def __init__(self, ids, vecs, levels, m: int, ef_build: int):
        import numpy as np

        self._np = np
        self.ids = list(ids)
        v = np.ascontiguousarray(np.asarray(vecs, dtype=np.float64))
        self._n, self._dim = v.shape
        lv = np.asarray(levels, dtype=np.int64)
        idv = np.asarray(self.ids, dtype=np.int64)
        dp = ctypes.POINTER(ctypes.c_double)
        lp = ctypes.POINTER(ctypes.c_int64)
        h = ctypes.c_void_p()
        rc = LIB.ticdc_hnsw_build(
            self._n, self._dim, v.ctypes.data_as(dp),
            lv.ctypes.data_as(lp), idv.ctypes.data_as(lp),
            m, ef_build, ctypes.byref(h))
        if rc != 0:
            raise RuntimeError(f"hnsw_build rc={rc}")
        self._h = h

    def search(self, q, k: int, ef: int) -> list[tuple[float, int]]:
        np = self._np
        qv = np.ascontiguousarray(np.asarray(q, dtype=np.float64))
        dp = ctypes.POINTER(ctypes.c_double)
        lp = ctypes.POINTER(ctypes.c_int64)
        out_d = np.zeros(k, dtype=np.float64)
        out_i = np.zeros(k, dtype=np.int64)
        n = LIB.ticdc_hnsw_search(self._h, qv.ctypes.data_as(dp), k, ef,
                                  out_d.ctypes.data_as(dp),
                                  out_i.ctypes.data_as(lp))
        if n < 0:  # OOM poisoned the graph: fail loudly, never truncate
            raise MemoryError("hnsw native search: scratch realloc failed")
        return [(float(out_d[i]), int(out_i[i])) for i in range(n)]

    def neighbors(self, level: int, node_idx: int) -> list[int] | None:
        """Adjacency export (test hook); None when the node is absent."""
        import numpy as np

        out = np.zeros(256, dtype=np.int32)
        n = LIB.ticdc_hnsw_neighbors(
            self._h, level, node_idx,
            out.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)), 256)
        if n < 0:
            return None
        return [int(x) for x in out[:n]]

    @property
    def n_levels(self) -> int:
        return int(LIB.ticdc_hnsw_n_levels(self._h))

    def __del__(self):
        h = getattr(self, "_h", None)
        if h and LIB is not None:
            LIB.ticdc_hnsw_free(h)
            self._h = None


def try_build(ids, vecs, levels, m: int, ef_build: int) -> NativeHnsw | None:
    """Native graph, or None when the kernel is unavailable (caller
    falls back to the pure-Python ``_HnswGraph``)."""
    if LIB is None or len(ids) == 0:
        return None
    try:
        return NativeHnsw(ids, vecs, levels, m, ef_build)
    except Exception:  # noqa: BLE001
        return None
