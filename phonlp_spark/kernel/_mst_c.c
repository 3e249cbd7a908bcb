/* Chu-Liu/Edmonds maximum spanning arborescence with the single-root
 * retry rule — a bit-compatible native twin of the numpy reference
 * implementation in mst.py (same argmax first-max tie rule, same cycle
 * walk order, same contraction bookkeeping, and the same floating-
 * point summation ORDER: numpy's pairwise reduction is replicated
 * verbatim so near-tie tree-total comparisons round identically).
 *
 * Exposed via ctypes:
 *   int phonlp_mst_single_root(const double *scores, int64_t n,
 *                              int64_t *out_heads);
 * scores: row-major n*n, scores[dep*n + head], row/col 0 = ROOT.
 * Returns 0 on success, nonzero on allocation failure or NaN scores
 * (caller falls back to the Python implementation).
 *
 * Only matters for throughput: dependency decode runs this per
 * sentence (n <= 257), and the Python/numpy version's per-call
 * overhead dominated the annotation kernel (56% of kernel CPU at
 * sf1.0; see OPTIMIZATION_r07.md).
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>
#include <math.h>

#define PW_BLOCKSIZE 128
#define NEG_INF (-INFINITY)

/* numpy pairwise_sum_DOUBLE for a contiguous buffer, unit stride —
 * same branch structure and accumulation order as numpy's
 * loops.c.src, so sums of cycle weights and tree totals match the
 * numpy implementation bit for bit. */
static double pairwise_sum(const double *a, int64_t n)
{
    if (n < 8) {
        double res = 0.;
        for (int64_t i = 0; i < n; i++) {
            res += a[i];
        }
        return res;
    }
    else if (n <= PW_BLOCKSIZE) {
        double r[8], res;
        int64_t i;
        r[0] = a[0]; r[1] = a[1]; r[2] = a[2]; r[3] = a[3];
        r[4] = a[4]; r[5] = a[5]; r[6] = a[6]; r[7] = a[7];
        for (i = 8; i < n - (n % 8); i += 8) {
            r[0] += a[i + 0]; r[1] += a[i + 1];
            r[2] += a[i + 2]; r[3] += a[i + 3];
            r[4] += a[i + 4]; r[5] += a[i + 5];
            r[6] += a[i + 6]; r[7] += a[i + 7];
        }
        res = ((r[0] + r[1]) + (r[2] + r[3])) +
              ((r[4] + r[5]) + (r[6] + r[7]));
        for (; i < n; i++) {
            res += a[i];
        }
        return res;
    }
    else {
        int64_t n2 = n / 2;
        n2 -= n2 % 8;
        return pairwise_sum(a, n2) + pairwise_sum(a + n2, n - n2);
    }
}

/* numpy argmax over one row: first occurrence of the maximum.
 * Matches np.argmax exactly for finite/-inf inputs; NaN matrices never
 * get here (phonlp_mst_single_root rejects them). */
static int64_t row_argmax(const double *row, int64_t n)
{
    int64_t best = 0;
    double bv = row[0];
    for (int64_t j = 1; j < n; j++) {
        if (row[j] > bv) {
            bv = row[j];
            best = j;
        }
    }
    return best;
}

/* _first_cycle: pointer walk in the functional graph, identical
 * traversal order to mst.py.  Writes the cycle (walk order) into cyc,
 * returns its length, or 0 when no multi-node cycle exists.
 * state/walk are caller-provided scratch of size n. */
static int64_t first_cycle(const int64_t *heads, int64_t n,
                           int64_t *cyc, uint8_t *state, int64_t *walk)
{
    memset(state, 0, (size_t)n);
    for (int64_t start = 0; start < n; start++) {
        if (state[start]) continue;
        int64_t wlen = 0;
        int64_t u = start;
        while (state[u] == 0) {
            state[u] = 1;
            walk[wlen++] = u;
            u = heads[u];
        }
        if (state[u] == 1) {
            int64_t at = 0;
            while (walk[at] != u) at++;
            int64_t clen = wlen - at;
            if (clen > 1) {
                memcpy(cyc, walk + at, (size_t)clen * sizeof(int64_t));
                return clen;
            }
        }
        for (int64_t i = 0; i < wlen; i++) state[walk[i]] = 2;
    }
    return 0;
}

/* _solve on a prepared matrix (diag/root rows already locked).
 * scores is row-major n*n and is NOT modified.  out_heads size n.
 * Returns 0 ok / 1 alloc failure. */
static int solve(const double *scores, int64_t n, int64_t *out_heads)
{
    int64_t *heads = out_heads;
    for (int64_t i = 0; i < n; i++) {
        heads[i] = row_argmax(scores + i * n, n);
    }

    int64_t *cyc = malloc((size_t)n * sizeof(int64_t));
    uint8_t *state = malloc((size_t)n);
    int64_t *walk = malloc((size_t)n * sizeof(int64_t));
    if (!cyc || !state || !walk) {
        free(cyc); free(state); free(walk);
        return 1;
    }
    int64_t clen = first_cycle(heads, n, cyc, state, walk);
    free(state); free(walk);
    if (clen == 0) {
        free(cyc);
        return 0;
    }

    /* out_nodes: ascending indices not on the cycle (flatnonzero) */
    uint8_t *in_cyc = calloc((size_t)n, 1);
    int64_t *out_nodes = malloc((size_t)n * sizeof(int64_t));
    if (!in_cyc || !out_nodes) {
        free(cyc); free(in_cyc); free(out_nodes);
        return 1;
    }
    for (int64_t i = 0; i < clen; i++) in_cyc[cyc[i]] = 1;
    int64_t m = 0;
    for (int64_t i = 0; i < n; i++) {
        if (!in_cyc[i]) out_nodes[m++] = i;
    }
    free(in_cyc);

    /* cycle arc weights (cyc walk order) and their pairwise total */
    double *cyc_arc_w = malloc((size_t)clen * sizeof(double));
    if (!cyc_arc_w) { free(cyc); free(out_nodes); return 1; }
    for (int64_t i = 0; i < clen; i++) {
        cyc_arc_w[i] = scores[cyc[i] * n + heads[cyc[i]]];
    }
    double cyc_total = pairwise_sum(cyc_arc_w, clen);

    /* condensed graph: m out nodes in order, then the supernode */
    int64_t cn = m + 1;
    double *cond = malloc((size_t)(cn * cn) * sizeof(double));
    int64_t *best_cyc_head = malloc((size_t)m * sizeof(int64_t));
    int64_t *best_entry = malloc((size_t)m * sizeof(int64_t));
    int64_t *sub = malloc((size_t)cn * sizeof(int64_t));
    if (!cond || !best_cyc_head || !best_entry || !sub) {
        free(cyc); free(out_nodes); free(cyc_arc_w);
        free(cond); free(best_cyc_head); free(best_entry); free(sub);
        return 1;
    }
    for (int64_t i = 0; i < cn * cn; i++) cond[i] = NEG_INF;

    for (int64_t i = 0; i < m; i++) {
        const double *row = scores + out_nodes[i] * n;
        double *crow = cond + i * cn;
        for (int64_t j = 0; j < m; j++) {
            crow[j] = row[out_nodes[j]];
        }
        /* best in-cycle head per out-node dep (first max over cyc order) */
        int64_t bh = 0;
        double bv = row[cyc[0]];
        for (int64_t k = 1; k < clen; k++) {
            if (row[cyc[k]] > bv) { bv = row[cyc[k]]; bh = k; }
        }
        best_cyc_head[i] = bh;
        crow[m] = bv;
    }
    /* supernode dep -> out-node head: (s - w) + total, column argmax
     * over cycle order (first max), matching the numpy broadcast */
    double *scol = cond + m * cn;
    for (int64_t j = 0; j < m; j++) {
        int64_t be = 0;
        double bv = (scores[cyc[0] * n + out_nodes[j]] - cyc_arc_w[0])
                    + cyc_total;
        for (int64_t k = 1; k < clen; k++) {
            double v = (scores[cyc[k] * n + out_nodes[j]] - cyc_arc_w[k])
                       + cyc_total;
            if (v > bv) { bv = v; be = k; }
        }
        best_entry[j] = be;
        scol[j] = bv;
    }

    int rc = solve(cond, cn, sub);
    if (rc == 0) {
        /* cycle-internal arcs survive except the broken one */
        for (int64_t i = 0; i < m; i++) {
            int64_t h = sub[i];
            out_heads[out_nodes[i]] =
                (h == m) ? cyc[best_cyc_head[i]] : out_nodes[h];
        }
        int64_t outer_head = sub[m];
        out_heads[cyc[best_entry[outer_head]]] = out_nodes[outer_head];
    }
    free(cyc); free(out_nodes); free(cyc_arc_w);
    free(cond); free(best_cyc_head); free(best_entry); free(sub);
    return rc;
}

/* _prepare: copy with diagonal and ROOT row locked */
static void prepare(const double *scores, int64_t n, double *out)
{
    memcpy(out, scores, (size_t)(n * n) * sizeof(double));
    for (int64_t i = 0; i < n; i++) out[i * n + i] = NEG_INF;
    for (int64_t j = 0; j < n; j++) out[j] = NEG_INF;
    out[0] = 0.0;
}

int phonlp_mst_single_root(const double *scores, int64_t n,
                           int64_t *out_heads)
{
    double *base = malloc((size_t)(n * n) * sizeof(double));
    if (!base) return 1;
    prepare(scores, n, base);
    /* np.argmax picks the first NaN, which row_argmax cannot
     * replicate: NaN scores (e.g. a checkpoint whose logits hit
     * inf - inf) go back to the numpy path */
    for (int64_t i = 0; i < n * n; i++) {
        if (isnan(base[i])) { free(base); return 2; }
    }
    int rc = solve(base, n, out_heads);
    if (rc != 0) { free(base); return rc; }

    int64_t n_roots = 0;
    for (int64_t i = 1; i < n; i++) {
        if (out_heads[i] == 0) n_roots++;
    }
    if (n_roots <= 1) { free(base); return 0; }

    int64_t *roots = malloc((size_t)n_roots * sizeof(int64_t));
    double *pinned = malloc((size_t)(n * n) * sizeof(double));
    int64_t *cand = malloc((size_t)n * sizeof(int64_t));
    int64_t *best_tree = malloc((size_t)n * sizeof(int64_t));
    double *arc_w = malloc((size_t)n * sizeof(double));
    if (!roots || !pinned || !cand || !best_tree || !arc_w) {
        free(base); free(roots); free(pinned); free(cand);
        free(best_tree); free(arc_w);
        return 1;
    }
    int64_t k = 0;
    for (int64_t i = 1; i < n; i++) {
        if (out_heads[i] == 0) roots[k++] = i;
    }
    memcpy(best_tree, out_heads, (size_t)n * sizeof(int64_t));
    double best_score = NEG_INF;

    int rc2 = 0;
    for (int64_t ri = 0; ri < n_roots; ri++) {
        int64_t r = roots[ri];
        memcpy(pinned, base, (size_t)(n * n) * sizeof(double));
        double root_arc = pinned[r * n + 0];
        for (int64_t i = 1; i < n; i++) pinned[i * n + 0] = NEG_INF;
        for (int64_t j = 0; j < n; j++) pinned[r * n + j] = NEG_INF;
        pinned[r * n + 0] = 0.0;
        rc2 = solve(pinned, n, cand);
        if (rc2 != 0) break;
        int ok = 1;
        for (int64_t i = 0; i < n; i++) {
            arc_w[i] = pinned[i * n + cand[i]];
            if (!(arc_w[i] > NEG_INF)) ok = 0;
        }
        if (ok) {
            double total = pairwise_sum(arc_w, n) + root_arc;
            if (total > best_score) {
                best_score = total;
                memcpy(best_tree, cand, (size_t)n * sizeof(int64_t));
            }
        }
    }
    if (rc2 == 0) {
        memcpy(out_heads, best_tree, (size_t)n * sizeof(int64_t));
    }
    free(base); free(roots); free(pinned); free(cand);
    free(best_tree); free(arc_w);
    return rc2;
}
