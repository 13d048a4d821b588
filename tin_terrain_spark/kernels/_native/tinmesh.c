/* tinmesh.c — native fast path for the Terra/Zemlya greedy TIN kernels
 * and their mesh emission, corner repair, the unit-square triangle
 * clip, and the post-mesh half of a tile (normalize, clip, first-seen
 * vertex order, quantized-mesh body).
 *
 * A line-for-line translation of THIS REPO'S Python kernels
 * (kernels/delaunay.py, kernels/terra.py, kernels/zemlya.py and their
 * to_mesh, kernels/raster.py's subsample/nearest-valid search,
 * kernels/geometry.py's clip, kernels/codec.py's vertex order and
 * encoder, operators/meshing.py's unit-tile normalize) into C — not of
 * the reference C++ (heremaps/tin-terrain), whose semantics the Python
 * kernels already re-implement and test. Outputs must be BIT-IDENTICAL
 * to the Python path: every float expression keeps the Python
 * evaluation order, and the build uses -ffp-contract=off so the
 * compiler cannot fuse multiply-adds. kernels/native.py compiles this
 * with the system gcc at first use and falls back to pure Python when
 * no compiler is available (the .so is a cache, never a requirement).
 *
 * Key shared-semantics notes (mirroring the Python docstrings):
 *  - quarter-edge algebra: edge k owns quarters 4k..4k+3
 *  - point location: randomized walk seeded with MT19937(42)
 *  - Lawson optimize gated by inCircle with EPS=1e-6 bias
 *  - lazy-deletion heap ordered by (-importance, token): tokens are
 *    unique, so pop order is a total order (matches Python heapq)
 *  - scanline walk: sequential `x += dx` accumulators, lower-triangle
 *    x2 restart at v0x, first-strict-max candidate selection
 *  - tile body: first-seen vertex dedup by value (-0.0 == 0.0, first
 *    occurrence kept), truncating quantize, int16-wrapped zig-zag
 *    deltas, u16/u32 watermark indices, 0xCA padding on the absolute
 *    offset; the 88-byte header is left to the caller (NumPy trig)
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define EPS_INCIRCLE 1e-6

/* ------------------------------------------------------------------ */
/* MT19937 (std::mt19937-compatible; fixed seed 42 in the mesh)        */
/* ------------------------------------------------------------------ */

typedef struct {
    uint32_t mt[624];
    int idx;
} MT;

static void mt_seed(MT *m, uint32_t seed) {
    m->mt[0] = seed;
    for (int i = 1; i < 624; i++)
        m->mt[i] = (uint32_t)(1812433253u * (m->mt[i - 1] ^ (m->mt[i - 1] >> 30)) + (uint32_t)i);
    m->idx = 624;
}

static uint32_t mt_next(MT *m) {
    if (m->idx >= 624) {
        for (int i = 0; i < 624; i++) {
            uint32_t y = (m->mt[i] & 0x80000000u) | (m->mt[(i + 1) % 624] & 0x7FFFFFFFu);
            uint32_t nxt = m->mt[(i + 397) % 624] ^ (y >> 1);
            if (y & 1u) nxt ^= 0x9908B0DFu;
            m->mt[i] = nxt;
        }
        m->idx = 0;
    }
    uint32_t y = m->mt[m->idx++];
    y ^= y >> 11;
    y ^= (y << 7) & 0x9D2C5680u;
    y ^= (y << 15) & 0xEFC60000u;
    y ^= y >> 18;
    return y;
}

/* ------------------------------------------------------------------ */
/* growable mesh state                                                 */
/* ------------------------------------------------------------------ */

typedef struct {
    /* quad-edge pools (per quarter) */
    int32_t *onext;
    int32_t *orgpt;  /* point id or -1 */
    int32_t *lfac;   /* triangle id or -1 */
    uint8_t *dead;   /* per edge */
    int32_t n_q, cap_q;

    /* points */
    double *ptx, *pty;
    int32_t n_pts, cap_pts;

    /* triangle registry (prepend-linked list) */
    int32_t *tri_anchor;
    int32_t *tri_next;
    int32_t n_tri, cap_tri;
    int32_t first_face;

    int32_t starting_edge;
    MT rng;

    /* raster + candidate state */
    const double *plane_src; /* z source for plane fit */
    const double *scan_src;  /* z source for candidates */
    int h, w;
    double ndv;
    int ndv_is_nan;
    uint8_t *used;
    int64_t *token;
    int64_t counter;
    double max_error;
    double *result; /* zemlya only; NULL for terra */

    /* binary heap: (key, tok) min-order; payload x,y,z,tri */
    double *hk;
    int64_t *ht;
    int32_t *hx, *hy, *htri;
    double *hz;
    int32_t hn, hcap;

    int oom; /* allocation failure flag -> caller falls back to Python */
} Mesh;

static void *xrealloc(Mesh *m, void *p, size_t sz) {
    void *q = realloc(p, sz);
    if (!q) m->oom = 1;
    return q ? q : p;
}

static int ensure_q(Mesh *m, int32_t need) {
    if (m->n_q + need <= m->cap_q) return 1;
    int32_t nc = m->cap_q * 2 + 256;
    m->onext = (int32_t *)xrealloc(m, m->onext, (size_t)nc * 4);
    m->orgpt = (int32_t *)xrealloc(m, m->orgpt, (size_t)nc * 4);
    m->lfac = (int32_t *)xrealloc(m, m->lfac, (size_t)nc * 4);
    m->dead = (uint8_t *)xrealloc(m, m->dead, (size_t)(nc / 4 + 1));
    m->cap_q = nc;
    return !m->oom;
}

static int ensure_tri(Mesh *m) {
    if (m->n_tri < m->cap_tri) return 1;
    int32_t nc = m->cap_tri * 2 + 128;
    m->tri_anchor = (int32_t *)xrealloc(m, m->tri_anchor, (size_t)nc * 4);
    m->tri_next = (int32_t *)xrealloc(m, m->tri_next, (size_t)nc * 4);
    m->cap_tri = nc;
    return !m->oom;
}

static int ensure_heap(Mesh *m) {
    if (m->hn < m->hcap) return 1;
    int32_t nc = m->hcap * 2 + 1024;
    m->hk = (double *)xrealloc(m, m->hk, (size_t)nc * 8);
    m->ht = (int64_t *)xrealloc(m, m->ht, (size_t)nc * 8);
    m->hx = (int32_t *)xrealloc(m, m->hx, (size_t)nc * 4);
    m->hy = (int32_t *)xrealloc(m, m->hy, (size_t)nc * 4);
    m->hz = (double *)xrealloc(m, m->hz, (size_t)nc * 8);
    m->htri = (int32_t *)xrealloc(m, m->htri, (size_t)nc * 4);
    m->hcap = nc;
    return !m->oom;
}

/* quarter-edge algebra (delaunay.py:_rot/_invrot/_sym) */
static inline int32_t q_rot(int32_t q) { return (q & ~3) | ((q + 1) & 3); }
static inline int32_t q_invrot(int32_t q) { return (q & ~3) | ((q + 3) & 3); }
static inline int32_t q_sym(int32_t q) { return (q & ~3) | ((q + 2) & 3); }

static inline int32_t oprev(Mesh *m, int32_t q) { return q_rot(m->onext[q_rot(q)]); }
static inline int32_t lnext(Mesh *m, int32_t q) { return q_rot(m->onext[q_invrot(q)]); }
static inline int32_t lprev(Mesh *m, int32_t q) { return q_sym(m->onext[q]); }
static inline int32_t rnext(Mesh *m, int32_t q) { return q_invrot(m->onext[q_rot(q)]); }
static inline int32_t rprev(Mesh *m, int32_t q) { return m->onext[q_sym(q)]; }
static inline int32_t dprev(Mesh *m, int32_t q) { return q_invrot(m->onext[q_invrot(q)]); }
static inline int32_t destpt(Mesh *m, int32_t q) { return m->orgpt[q_sym(q)]; }

static int32_t make_edge(Mesh *m) {
    if (!ensure_q(m, 4)) return -1;
    int32_t base = m->n_q;
    m->onext[base + 0] = base + 0;
    m->onext[base + 1] = base + 3;
    m->onext[base + 2] = base + 2;
    m->onext[base + 3] = base + 1;
    m->orgpt[base + 0] = m->orgpt[base + 1] = m->orgpt[base + 2] = m->orgpt[base + 3] = -1;
    m->lfac[base + 0] = m->lfac[base + 1] = m->lfac[base + 2] = m->lfac[base + 3] = -1;
    m->dead[base >> 2] = 0;
    m->n_q += 4;
    return base;
}

static void splice(Mesh *m, int32_t a, int32_t b) {
    int32_t alpha = q_rot(m->onext[a]);
    int32_t beta = q_rot(m->onext[b]);
    int32_t t = m->onext[a];
    m->onext[a] = m->onext[b];
    m->onext[b] = t;
    t = m->onext[alpha];
    m->onext[alpha] = m->onext[beta];
    m->onext[beta] = t;
}

static inline void set_end_points(Mesh *m, int32_t q, int32_t o, int32_t d) {
    m->orgpt[q] = o;
    m->orgpt[q_sym(q)] = d;
}

static void reshape(Mesh *m, int32_t t, int32_t e) {
    m->tri_anchor[t] = e;
    m->lfac[e] = t;
    m->lfac[lnext(m, e)] = t;
    m->lfac[lprev(m, e)] = t;
}

static inline void dont_anchor(Mesh *m, int32_t t, int32_t e) {
    if (m->tri_anchor[t] == e) m->tri_anchor[t] = lnext(m, e);
}

static int32_t make_face(Mesh *m, int32_t e) {
    if (!ensure_tri(m)) return -1;
    int32_t t = m->n_tri++;
    m->tri_next[t] = m->first_face;
    reshape(m, t, e);
    m->first_face = t;
    return t;
}

static void delete_edge(Mesh *m, int32_t e) {
    splice(m, e, oprev(m, e));
    int32_t se = q_sym(e);
    splice(m, se, oprev(m, se));
    m->dead[e >> 2] = 1;
}

static int32_t connect_edges(Mesh *m, int32_t a, int32_t b) {
    int32_t e = make_edge(m);
    if (e < 0) return -1;
    splice(m, e, lnext(m, a));
    splice(m, q_sym(e), b);
    set_end_points(m, e, destpt(m, a), m->orgpt[b]);
    return e;
}

static void swap_edge(Mesh *m, int32_t e) {
    int32_t f1 = m->lfac[e];
    int32_t f2 = m->lfac[q_sym(e)];
    int32_t a = oprev(m, e);
    int32_t b = oprev(m, q_sym(e));
    splice(m, e, a);
    splice(m, q_sym(e), b);
    splice(m, e, lnext(m, a));
    splice(m, q_sym(e), lnext(m, b));
    set_end_points(m, e, destpt(m, a), destpt(m, b));
    reshape(m, f1, e);
    reshape(m, f2, q_sym(e));
}

/* predicates (delaunay.py / geometry.py tri_area) */
static inline double tri_area(double ax, double ay, double bx, double by,
                              double cx, double cy) {
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax);
}

static inline int right_of(Mesh *m, double x, double y, int32_t e) {
    int32_t o = m->orgpt[e], d = destpt(m, e);
    return tri_area(x, y, m->ptx[d], m->pty[d], m->ptx[o], m->pty[o]) > 0;
}

static inline int left_of(Mesh *m, double x, double y, int32_t e) {
    int32_t o = m->orgpt[e], d = destpt(m, e);
    return tri_area(x, y, m->ptx[o], m->pty[o], m->ptx[d], m->pty[d]) > 0;
}

static int ccw_boundary(Mesh *m, int32_t e) {
    int32_t op = oprev(m, e);
    int32_t dp = destpt(m, op);
    return !right_of(m, m->ptx[dp], m->pty[dp], e);
}

static int on_edge(Mesh *m, double x, double y, int32_t e) {
    int32_t o = m->orgpt[e], d = destpt(m, e);
    double ox = m->ptx[o], oy = m->pty[o];
    double dx = m->ptx[d], dy = m->pty[d];
    double t1 = hypot(x - ox, y - oy);
    double t2 = hypot(x - dx, y - dy);
    if (t1 < EPS_INCIRCLE || t2 < EPS_INCIRCLE) return 1;
    double t3 = hypot(ox - dx, oy - dy);
    if (t1 > t3 || t2 > t3) return 0;
    double tx = dx - ox, ty = dy - oy;
    double ln = hypot(tx, ty);
    double la = ty / ln, lb = -tx / ln;
    double lc = -(la * ox + lb * oy);
    return fabs(la * x + lb * y + lc) < EPS_INCIRCLE;
}

/* point location: randomized walk (delaunay.py:locate) */
static int32_t locate(Mesh *m, double x, double y, int32_t start) {
    int32_t e = (start < 0) ? m->starting_edge : start;
    int32_t o = m->orgpt[e], d = destpt(m, e);
    double t = tri_area(x, y, m->ptx[d], m->pty[d], m->ptx[o], m->pty[o]);
    if (t > 0) {
        t = -t;
        e = q_sym(e);
    }
    for (;;) {
        int32_t eo = m->onext[e];
        int32_t ed = dprev(m, e);
        int32_t oo = m->orgpt[eo], od = destpt(m, eo);
        int32_t do_ = m->orgpt[ed], dd = destpt(m, ed);
        double to = tri_area(x, y, m->ptx[od], m->pty[od], m->ptx[oo], m->pty[oo]);
        double td = tri_area(x, y, m->ptx[dd], m->pty[dd], m->ptx[do_], m->pty[do_]);
        if (td > 0) {
            if (to > 0 || (to == 0 && t == 0)) {
                m->starting_edge = e;
                return e;
            }
            t = to;
            e = eo;
        } else {
            if (to > 0) {
                if (td == 0 && t == 0) {
                    m->starting_edge = e;
                    return e;
                }
                t = td;
                e = ed;
            } else {
                int32_t eod = destpt(m, eo);
                if (t == 0 && !left_of(m, m->ptx[eod], m->pty[eod], e)) {
                    e = q_sym(e);
                } else if (((mt_next(&m->rng) % 4294967295u) & 1u) == 0) {
                    t = to;
                    e = eo;
                } else {
                    t = td;
                    e = ed;
                }
            }
        }
    }
}

/* forward decl */
static void scan_triangle(Mesh *m, int32_t t);

/* insertion spokes (delaunay.py:spoke) */
static int32_t spoke(Mesh *m, double x, double y, int32_t e) {
    int32_t new_faces[2];
    int nf = 0;
    int32_t boundary_edge = -1;

    int32_t lf = m->lfac[e];
    dont_anchor(m, lf, e);
    new_faces[nf++] = lf;

    if (on_edge(m, x, y, e)) {
        if (ccw_boundary(m, e)) {
            boundary_edge = e;
        } else {
            int32_t sym_lf = m->lfac[q_sym(e)];
            new_faces[nf++] = sym_lf;
            dont_anchor(m, sym_lf, q_sym(e));
            e = oprev(m, e);
            delete_edge(m, m->onext[e]);
        }
    }

    /* new point */
    if (m->n_pts >= m->cap_pts) {
        int32_t nc = m->cap_pts * 2 + 64;
        m->ptx = (double *)xrealloc(m, m->ptx, (size_t)nc * 8);
        m->pty = (double *)xrealloc(m, m->pty, (size_t)nc * 8);
        m->cap_pts = nc;
        if (m->oom) return -1;
    }
    int32_t xid = m->n_pts++;
    m->ptx[xid] = x;
    m->pty[xid] = y;

    int32_t base = make_edge(m);
    if (base < 0) return -1;
    set_end_points(m, base, m->orgpt[e], xid);
    splice(m, base, e);
    m->starting_edge = base;
    for (;;) {
        base = connect_edges(m, e, q_sym(base));
        if (base < 0) return -1;
        e = oprev(m, base);
        if (lnext(m, e) == m->starting_edge) break;
    }

    if (boundary_edge >= 0) delete_edge(m, boundary_edge);

    base = (boundary_edge >= 0) ? rprev(m, m->starting_edge) : q_sym(m->starting_edge);
    for (;;) {
        if (nf > 0) {
            reshape(m, new_faces[--nf], base);
        } else {
            if (make_face(m, base) < 0) return -1;
        }
        base = m->onext[base];
        if (base == q_sym(m->starting_edge)) break;
    }
    return m->starting_edge;
}

/* Lawson optimize (delaunay.py:optimize — the inlined hot loop) */
static void optimize(Mesh *m, double xx, double xy, int32_t s) {
    int32_t start_spoke = s;
    int32_t sp = s;
    for (;;) {
        int32_t e = lnext(m, sp);
        /* is_interior: lnext^3 == e and rnext^3 == e */
        int interior;
        {
            int32_t l1 = lnext(m, e), l2 = lnext(m, l1);
            interior = (lnext(m, l2) == e);
            if (interior) {
                int32_t r1 = rnext(m, e), r2 = rnext(m, r1);
                interior = (rnext(m, r2) == e);
            }
        }
        if (interior) {
            /* should_swap(x, e) with oprev/dest inlined */
            int32_t t_e = oprev(m, e);
            int32_t A = m->orgpt[e];
            int32_t B = destpt(m, t_e);
            int32_t C = m->orgpt[q_sym(e)];
            double ax = m->ptx[A], ay = m->pty[A];
            double bx = m->ptx[B], by = m->pty[B];
            double cx = m->ptx[C], cy = m->pty[C];
            if (((ax * ax + ay * ay) * ((cx - bx) * (xy - by) - (cy - by) * (xx - bx)) -
                 (bx * bx + by * by) * ((cx - ax) * (xy - ay) - (cy - ay) * (xx - ax)) +
                 (cx * cx + cy * cy) * ((bx - ax) * (xy - ay) - (by - ay) * (xx - ax)) -
                 (xx * xx + xy * xy) * ((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))) >
                EPS_INCIRCLE) {
                swap_edge(m, e);
                continue;
            }
        }
        sp = m->onext[sp];
        if (sp == start_spoke) break;
    }
    sp = start_spoke;
    for (;;) {
        int32_t t = m->lfac[lnext(m, sp)];
        if (t >= 0) scan_triangle(m, t);
        sp = m->onext[sp];
        if (sp == start_spoke) break;
    }
}

static void insert_point(Mesh *m, double x, double y, int32_t tri) {
    int32_t hint = -1;
    if (tri >= 0 && !m->dead[m->tri_anchor[tri] >> 2]) hint = m->tri_anchor[tri];
    int32_t e = locate(m, x, y, hint);
    int32_t o = m->orgpt[e], d = destpt(m, e);
    if ((x == m->ptx[o] && y == m->pty[o]) || (x == m->ptx[d] && y == m->pty[d])) {
        optimize(m, x, y, e);
    } else {
        int32_t ss = spoke(m, x, y, e);
        if (ss < 0) return; /* oom */
        optimize(m, x, y, q_sym(ss));
    }
}

/* ------------------------------------------------------------------ */
/* heap ordered by (key, tok)                                          */
/* ------------------------------------------------------------------ */

static inline int h_less(Mesh *m, int32_t i, int32_t j) {
    if (m->hk[i] != m->hk[j]) return m->hk[i] < m->hk[j];
    return m->ht[i] < m->ht[j];
}

static void h_swap(Mesh *m, int32_t i, int32_t j) {
    double tk = m->hk[i]; m->hk[i] = m->hk[j]; m->hk[j] = tk;
    int64_t tt = m->ht[i]; m->ht[i] = m->ht[j]; m->ht[j] = tt;
    int32_t ti = m->hx[i]; m->hx[i] = m->hx[j]; m->hx[j] = ti;
    ti = m->hy[i]; m->hy[i] = m->hy[j]; m->hy[j] = ti;
    double tz = m->hz[i]; m->hz[i] = m->hz[j]; m->hz[j] = tz;
    ti = m->htri[i]; m->htri[i] = m->htri[j]; m->htri[j] = ti;
}

static void h_push(Mesh *m, double key, int64_t tok, int32_t x, int32_t y,
                   double z, int32_t tri) {
    if (!ensure_heap(m)) return;
    int32_t i = m->hn++;
    m->hk[i] = key; m->ht[i] = tok; m->hx[i] = x; m->hy[i] = y;
    m->hz[i] = z; m->htri[i] = tri;
    while (i > 0) {
        int32_t p = (i - 1) >> 1;
        if (h_less(m, i, p)) {
            h_swap(m, i, p);
            i = p;
        } else break;
    }
}

static void h_pop(Mesh *m) {
    int32_t n = --m->hn;
    if (n == 0) return;
    h_swap(m, 0, n);
    int32_t i = 0;
    for (;;) {
        int32_t l = 2 * i + 1, r = l + 1, sm = i;
        if (l < n && h_less(m, l, sm)) sm = l;
        if (r < n && h_less(m, r, sm)) sm = r;
        if (sm == i) break;
        h_swap(m, i, sm);
        i = sm;
    }
}

/* ------------------------------------------------------------------ */
/* candidate scan (terra.py:_scan_triangle_ranges + scan_triangle)     */
/* ------------------------------------------------------------------ */

typedef struct {
    int32_t bx, by;
    double bz, bimp;
} Best;

static void walk_rows(Mesh *m, int y0, int y1, double x1, double dx1,
                      double x2, double dx2, double a, double b, double c,
                      Best *bst) {
    const double *src = m->scan_src;
    const uint8_t *used = m->used;
    int w = m->w;
    int ndv_is_nan = m->ndv_is_nan;
    double ndv = m->ndv;
    for (int y = y0; y < y1; y++) {
        double lo = (x1 < x2) ? x1 : x2;
        double hi = (x1 < x2) ? x2 : x1;
        int sx = (int)ceil(lo);
        int ex = (int)floor(hi);
        /* clamp to the row (the Python path's list slicing clamps
           implicitly): float drift in the sequential x accumulators
           must shorten the span, never read out of bounds */
        if (sx < 0) sx = 0;
        if (ex > w - 1) ex = w - 1;
        const double *zr = src + (size_t)y * w;
        const uint8_t *ur = used + (size_t)y * w;
        for (int xi = sx; xi <= ex; xi++) {
            if (ur[xi]) continue;
            double zv = zr[xi];
            if (zv != zv) continue;
            if (!ndv_is_nan && zv == ndv) continue;
            double d = zv - (a * (double)xi + b * (double)y + c);
            if (d < 0.0) d = -d;
            if (d > bst->bimp) {
                bst->bimp = d;
                bst->bx = xi;
                bst->by = y;
                bst->bz = zv;
            }
        }
        x1 += dx1;
        x2 += dx2;
    }
}

static void scan_triangle(Mesh *m, int32_t t) {
    int32_t anchor = m->tri_anchor[t];
    int32_t p1i = m->orgpt[anchor];
    int32_t p2i = m->orgpt[q_sym(anchor)];
    int32_t q = m->onext[anchor];
    int32_t p3i = m->orgpt[q_sym(q)];

    double p1x = m->ptx[p1i], p1y = m->pty[p1i];
    double p2x = m->ptx[p2i], p2y = m->pty[p2i];
    double p3x = m->ptx[p3i], p3y = m->pty[p3i];

    const double *pz = m->plane_src;
    int w = m->w;
    double z1 = pz[(size_t)(int)p1y * w + (int)p1x];
    double z2 = pz[(size_t)(int)p2y * w + (int)p2x];
    double z3 = pz[(size_t)(int)p3y * w + (int)p3x];
    double ux = p2x - p1x, uy = p2y - p1y, uz = z2 - z1;
    double vx = p3x - p1x, vy = p3y - p1y, vz = z3 - z1;
    double den = ux * vy - uy * vx;
    double a = (uz * vy - uy * vz) / den;
    double b = (ux * vz - uz * vx) / den;
    double c = z1 - a * p1x - b * p1y;

    /* y-sort the three points (stable 3-step, terra.py:79-84) */
    double v0x = p1x, v0y = p1y, v1x = p2x, v1y = p2y, v2x = p3x, v2y = p3y;
    double tx, ty;
    if (v0y > v1y) { tx = v0x; ty = v0y; v0x = v1x; v0y = v1y; v1x = tx; v1y = ty; }
    if (v1y > v2y) { tx = v1x; ty = v1y; v1x = v2x; v1y = v2y; v2x = tx; v2y = ty; }
    if (v0y > v1y) { tx = v0x; ty = v0y; v0x = v1x; v0y = v1y; v1x = tx; v1y = ty; }

    double dx2 = (v2y != v0y) ? (v2x - v0x) / (v2y - v0y) : 0.0;

    Best bst;
    bst.bx = 0; bst.by = 0; bst.bz = 0.0; bst.bimp = -INFINITY;

    if (v1y != v0y) {
        double dx1 = (v1x - v0x) / (v1y - v0y);
        walk_rows(m, (int)v0y, (int)v1y, v0x, dx1, v0x, dx2, a, b, c, &bst);
    }
    if (v2y != v1y) {
        double dx1 = (v2x - v1x) / (v2y - v1y);
        /* long-edge x restarts at v0x (terra.py:147-152) */
        walk_rows(m, (int)v1y, (int)v2y + 1, v1x, dx1, v0x, dx2, a, b, c, &bst);
    }

    int64_t tok = m->counter++;
    /* token write happens even when no candidate (best stays (0,0)) */
    m->token[(size_t)bst.by * w + bst.bx] = tok;
    h_push(m, -bst.bimp, tok, bst.bx, bst.by, bst.bz, t);
}

/* ------------------------------------------------------------------ */
/* mesh lifecycle                                                      */
/* ------------------------------------------------------------------ */

static void mesh_init(Mesh *m, const double *z, int h, int w, double ndv,
                      double max_error, uint8_t *used, int64_t *token) {
    memset(m, 0, sizeof(*m));
    m->plane_src = z;
    m->scan_src = z;
    m->h = h;
    m->w = w;
    m->ndv = ndv;
    m->ndv_is_nan = (ndv != ndv);
    m->used = used;
    m->token = token;
    m->max_error = max_error;
    m->first_face = -1;
    m->starting_edge = -1;
    mt_seed(&m->rng, 42u);
}

static void mesh_free(Mesh *m) {
    free(m->onext); free(m->orgpt); free(m->lfac); free(m->dead);
    free(m->ptx); free(m->pty);
    free(m->tri_anchor); free(m->tri_next);
    free(m->hk); free(m->ht); free(m->hx); free(m->hy); free(m->hz); free(m->htri);
}

static int32_t add_point(Mesh *m, double x, double y) {
    if (m->n_pts >= m->cap_pts) {
        int32_t nc = m->cap_pts * 2 + 64;
        m->ptx = (double *)xrealloc(m, m->ptx, (size_t)nc * 8);
        m->pty = (double *)xrealloc(m, m->pty, (size_t)nc * 8);
        m->cap_pts = nc;
    }
    int32_t id = m->n_pts++;
    m->ptx[id] = x;
    m->pty[id] = y;
    return id;
}

/* init_mesh: two-triangle quad a-b-c-d with diagonal a-c */
static void init_quad(Mesh *m, double ax, double ay, double bx, double by,
                      double cx, double cy, double dx, double dy) {
    int32_t A = add_point(m, ax, ay);
    int32_t B = add_point(m, bx, by);
    int32_t C = add_point(m, cx, cy);
    int32_t D = add_point(m, dx, dy);
    int32_t ea = make_edge(m);
    set_end_points(m, ea, A, B);
    int32_t eb = make_edge(m);
    splice(m, q_sym(ea), eb);
    set_end_points(m, eb, B, C);
    int32_t ec = make_edge(m);
    splice(m, q_sym(eb), ec);
    set_end_points(m, ec, C, D);
    int32_t ed = make_edge(m);
    splice(m, q_sym(ec), ed);
    set_end_points(m, ed, D, A);
    splice(m, q_sym(ed), ea);
    int32_t diag = make_edge(m);
    splice(m, q_sym(ed), diag);
    splice(m, q_sym(eb), q_sym(diag));
    set_end_points(m, diag, A, C);
    m->starting_edge = ea;
    m->first_face = -1;
    make_face(m, q_sym(ea));
    make_face(m, q_sym(ec));
}

/* ------------------------------------------------------------------ */
/* emission (terra.py TerraMesh.to_mesh / zemlya.py ZemlyaMesh.to_mesh) */
/* ------------------------------------------------------------------ */

/* Vertices: the valid cells of zsrc (not NaN, not ndv; for terra also
 * used == 1) in row-major order, at pixel-centre world coordinates
 * (raster.py Grid.col2x / Grid.row2y, same expression order).
 * Faces: first_face link order, vertex ids looked up per pixel (a cell
 * without a vertex maps to 0, as the Python lookup table does), flipped
 * to (p3, p2, p1) when ccw in pixel space (TerraMesh.cpp:220-231).
 * vid: h*w scratch. verts_out holds h*w rows; returns n_faces, or -1
 * when cap_faces is too small. */
static int64_t emit_mesh(Mesh *m, const double *zsrc, const uint8_t *used,
                         double xpos, double ypos, double cellsize,
                         int64_t *vid, double *verts_out, int64_t *faces_out,
                         int64_t cap_faces, int64_t *n_verts_out) {
    int h = m->h, w = m->w;
    int64_t nv = 0;
    for (int r = 0; r < h; r++) {
        double y = ypos + ((double)(h - 1) - (double)r + 0.5) * cellsize;
        for (int c = 0; c < w; c++) {
            size_t i = (size_t)r * w + c;
            double zv = zsrc[i];
            if ((used && used[i] != 1) || isnan(zv) || zv == m->ndv) {
                vid[i] = 0;
                continue;
            }
            vid[i] = nv;
            verts_out[nv * 3 + 0] = xpos + ((double)c + 0.5) * cellsize;
            verts_out[nv * 3 + 1] = y;
            verts_out[nv * 3 + 2] = zv;
            nv++;
        }
    }
    int64_t nf = 0;
    for (int32_t t = m->first_face; t >= 0; t = m->tri_next[t]) {
        if (nf >= cap_faces) return -1;
        int32_t a = m->tri_anchor[t];
        int32_t p1 = m->orgpt[a];
        int32_t p2 = m->orgpt[q_sym(a)];
        int32_t p3 = m->orgpt[q_sym(m->onext[a])];
        double x1 = m->ptx[p1], y1 = m->pty[p1];
        double x2 = m->ptx[p2], y2 = m->pty[p2];
        double x3 = m->ptx[p3], y3 = m->pty[p3];
        int64_t i1 = vid[(size_t)(int64_t)y1 * w + (int64_t)x1];
        int64_t i2 = vid[(size_t)(int64_t)y2 * w + (int64_t)x2];
        int64_t i3 = vid[(size_t)(int64_t)y3 * w + (int64_t)x3];
        int64_t *f = faces_out + nf * 3;
        if (tri_area(x1, y1, x2, y2, x3, y3) > 0) {
            f[0] = i3; f[1] = i2; f[2] = i1;
        } else {
            f[0] = i1; f[1] = i2; f[2] = i3;
        }
        nf++;
    }
    *n_verts_out = nv;
    return nf;
}

/* ------------------------------------------------------------------ */
/* drivers                                                             */
/* ------------------------------------------------------------------ */

void tin_repair_corners(double *z, int h, int w, double ndv);

/* terra: corner repair, greedy insertion and emission in one call —
 * kernels/native.py:terra_native.
 * z: h*w row-major float64, repaired in place. used (h*w bytes), token
 * and vid (h*w int64 each) are scratch, zeroed here. verts_out holds
 * h*w rows of (x, y, z); faces_out holds cap_faces rows of int64.
 * Returns n_faces (n_vertices in *n_verts_out), or -1 on overflow/oom,
 * in which case the repair is undone, so the pure-Python fallback
 * repairs pristine corners (repair is not idempotent). */
int64_t tin_terra_mesh(double *z, int h, int w, double ndv,
                       double max_error, double xpos, double ypos,
                       double cellsize, uint8_t *used,
                       int64_t *token, int64_t *vid, double *verts_out,
                       int64_t *faces_out, int64_t cap_faces,
                       int64_t *n_verts_out) {
    size_t corner[4] = {0, (size_t)(h - 1) * w, (size_t)(h - 1) * w + (w - 1),
                        (size_t)(w - 1)};
    double snap[4];
    for (int i = 0; i < 4; i++) snap[i] = z[corner[i]];
    tin_repair_corners(z, h, w, ndv);
    memset(used, 0, (size_t)h * w);
    memset(token, 0, (size_t)h * w * sizeof(int64_t));

    Mesh m;
    mesh_init(&m, z, h, w, ndv, max_error, used, token);
    for (int i = 0; i < 4; i++) used[corner[i]] = 1;

    init_quad(&m, 0.0, 0.0, 0.0, (double)(h - 1), (double)(w - 1),
              (double)(h - 1), (double)(w - 1), 0.0);

    for (int32_t t = m.first_face; t >= 0; t = m.tri_next[t])
        scan_triangle(&m, t);

    while (m.hn > 0 && !m.oom) {
        double neg_imp = m.hk[0];
        int64_t tok = m.ht[0];
        int32_t cx = m.hx[0], cy = m.hy[0], tri = m.htri[0];
        h_pop(&m);
        if (-neg_imp < max_error) break;
        if (m.token[(size_t)cy * w + cx] != tok) continue;
        m.used[(size_t)cy * w + cx] = 1;
        insert_point(&m, (double)cx, (double)cy, tri);
    }

    int64_t nf = -1;
    if (!m.oom)
        nf = emit_mesh(&m, z, used, xpos, ypos, cellsize, vid, verts_out,
                       faces_out, cap_faces, n_verts_out);
    mesh_free(&m);
    if (nf < 0)
        for (int i = 0; i < 4; i++) z[corner[i]] = snap[i];
    return nf;
}

/* zemlya hierarchical greedy insertion and emission.
 * z: raw raster (corner-repaired); insert_stack: (max_level) levels of
 * h*w candidate rasters (level L at insert_stack + (L-1)*h*w; the final
 * level scans z itself and its slot is ignored); result: h*w, prefilled
 * NaN except the 4 corner values. Scratch and outputs as in
 * tin_terra_mesh; vertices are the valid cells of result. */
int64_t tin_zemlya_mesh(const double *z, const double *insert_stack,
                        int max_level, int h, int w, double ndv,
                        double max_error, double xpos, double ypos,
                        double cellsize, double *result, uint8_t *used,
                        int64_t *token, int64_t *vid, double *verts_out,
                        int64_t *faces_out, int64_t cap_faces,
                        int64_t *n_verts_out) {
    memset(token, 0, (size_t)h * w * sizeof(int64_t));
    Mesh m;
    mesh_init(&m, z, h, w, ndv, max_error, used, token);
    m.result = result;
    m.plane_src = result; /* scan planes come from inserted z values */

    init_quad(&m, 0.0, 0.0, 0.0, (double)(h - 1), (double)(w - 1),
              (double)(h - 1), (double)(w - 1), 0.0);

    for (int level = 1; level <= max_level && !m.oom; level++) {
        memset(used, 0, (size_t)h * w);
        m.scan_src = (level == max_level) ? z : insert_stack + (size_t)(level - 1) * h * w;

        for (int32_t t = m.first_face; t >= 0; t = m.tri_next[t])
            scan_triangle(&m, t);

        while (m.hn > 0 && !m.oom) {
            double neg_imp = m.hk[0];
            int64_t tok = m.ht[0];
            int32_t cx = m.hx[0], cy = m.hy[0], tri = m.htri[0];
            double cz = m.hz[0];
            h_pop(&m);
            if (-neg_imp < max_error) {
                m.hn = 0; /* heap.clear() */
                break;
            }
            if (m.token[(size_t)cy * w + cx] != tok) continue;
            result[(size_t)cy * w + cx] = cz;
            used[(size_t)cy * w + cx] = 1;
            insert_point(&m, (double)cx, (double)cy, tri);
        }
    }

    int64_t nf = -1;
    if (!m.oom)
        nf = emit_mesh(&m, result, NULL, xpos, ypos, cellsize, vid,
                       verts_out, faces_out, cap_faces, n_verts_out);
    mesh_free(&m);
    return nf;
}

/* ------------------------------------------------------------------ */
/* corner repair (kernels/raster.py:_subsample_3x3_full +              */
/* sample_nearest_valid_avg + repair_corners)                          */
/*                                                                     */
/* The Python path computes the whole (h+2, w+2) subsample plane for   */
/* each corner search; evaluating the SAME per-center arithmetic       */
/* lazily against the live raster is value-identical (elementwise ops  */
/* have no cross-element interaction) and skips the O(h*w) plane on    */
/* every tile. Summation orders below mirror np.nansum's sequential    */
/* reduce over the stacked arrays (lengths 4 and 6: no pairwise).      */
/* ------------------------------------------------------------------ */

#define MAX_AVERAGING_SAMPLES 64

static inline double cell_or_nan(const double *z, int h, int w, double ndv,
                                 int ndv_is_nan, int r, int c) {
    if (r < 0 || r >= h || c < 0 || c >= w) return NAN;
    double v = z[(size_t)r * w + c];
    if (!ndv_is_nan && v == ndv) return NAN;
    return v;
}

/* weighted 3x3 subsample at center (r, c), r in [-1, h], c in [-1, w]:
 * center x3, cross-avg x2, diag-avg x1, NaN-aware. Matches the Python
 * plane elementwise: cross order top,left,right,bottom; diag order
 * tl,tr,bl,br; stack order c,c,c,cross,cross,diag. */
static double subsample3x3(const double *z, int h, int w, double ndv,
                           int ndv_is_nan, int r, int c) {
    double ctr = cell_or_nan(z, h, w, ndv, ndv_is_nan, r, c);
    double t = cell_or_nan(z, h, w, ndv, ndv_is_nan, r - 1, c);
    double l = cell_or_nan(z, h, w, ndv, ndv_is_nan, r, c - 1);
    double rt = cell_or_nan(z, h, w, ndv, ndv_is_nan, r, c + 1);
    double b = cell_or_nan(z, h, w, ndv, ndv_is_nan, r + 1, c);
    double tl = cell_or_nan(z, h, w, ndv, ndv_is_nan, r - 1, c - 1);
    double tr = cell_or_nan(z, h, w, ndv, ndv_is_nan, r - 1, c + 1);
    double bl = cell_or_nan(z, h, w, ndv, ndv_is_nan, r + 1, c - 1);
    double br = cell_or_nan(z, h, w, ndv, ndv_is_nan, r + 1, c + 1);

    int cross_cnt = !isnan(t) + !isnan(l) + !isnan(rt) + !isnan(b);
    double cross_sum = (((isnan(t) ? 0.0 : t) + (isnan(l) ? 0.0 : l))
                        + (isnan(rt) ? 0.0 : rt)) + (isnan(b) ? 0.0 : b);
    double cross_avg = cross_cnt > 0 ? cross_sum / (double)cross_cnt : NAN;

    int diag_cnt = !isnan(tl) + !isnan(tr) + !isnan(bl) + !isnan(br);
    double diag_sum = (((isnan(tl) ? 0.0 : tl) + (isnan(tr) ? 0.0 : tr))
                       + (isnan(bl) ? 0.0 : bl)) + (isnan(br) ? 0.0 : br);
    double diag_avg = diag_cnt > 0 ? diag_sum / (double)diag_cnt : NAN;

    double c0 = isnan(ctr) ? 0.0 : ctr;
    double x0 = isnan(cross_avg) ? 0.0 : cross_avg;
    double d0 = isnan(diag_avg) ? 0.0 : diag_avg;
    int cnt = 3 * !isnan(ctr) + 2 * !isnan(cross_avg) + !isnan(diag_avg);
    if (cnt == 0) return NAN;
    return (((((c0 + c0) + c0) + x0) + x0) + d0) / (double)cnt;
}

/* expanding Bresenham-circle nearest-valid average at (row, col):
 * raster_tools.cpp:343-427 semantics via the Python port's exact
 * putpixel order, sample cap, and mean arithmetic. */
static double nearest_valid_avg(const double *z, int h, int w, double ndv,
                                int ndv_is_nan, int row, int col) {
    if (row >= 0 && row < h && col >= 0 && col < w) {
        double v = z[(size_t)row * w + col];
        if (!(isnan(v) || (!ndv_is_nan && v == ndv))) return v;
    }
    int max_radius = (int)sqrt((double)(w * w + h * h));
    double samples[MAX_AVERAGING_SAMPLES];
    int ns = 0;
    for (int radius = 2; radius <= max_radius && ns < 1; radius++) {
        int x = radius - 1, y = 0;
        int dx = 1, dy = 1;
        int err = dx - (radius / 2);
        while (x >= y) {
            int offs[8][2] = {{x, y},  {y, x},  {-y, x},  {-x, y},
                              {-x, -y}, {-y, -x}, {y, -x},  {x, -y}};
            for (int i = 0; i < 8; i++) {
                int rr = row + offs[i][1];
                int cc = col + offs[i][0];
                if (rr < -1 || rr > h || cc < -1 || cc > w) continue;
                double v = subsample3x3(z, h, w, ndv, ndv_is_nan, rr, cc);
                if (isnan(v) || (!ndv_is_nan && v == ndv)) continue;
                if (ns >= MAX_AVERAGING_SAMPLES) break;
                samples[ns++] = v;
            }
            if (err <= 0) {
                y += 1;
                err += dy;
                dy += 2;
            } else {
                x -= 1;
                dx += 2;
                err += dx - (radius / 2);
            }
        }
    }
    if (ns == 0) return NAN;
    if (ns == 1) return samples[0];
    double s = 0.0;
    for (int i = 0; i < ns; i++) s += samples[i];
    return s / (double)ns;
}

/* TerraUtils corner repair against the LIVE raster, in the reference's
 * corner order TL, BL, BR, TR (kernels/raster.py:repair_corners; lazy
 * per-center evaluation replaces the per-search plane with identical
 * values). */
void tin_repair_corners(double *z, int h, int w, double ndv) {
    int ndv_is_nan = isnan(ndv);
    int corners[4][2] = {{0, 0}, {h - 1, 0}, {h - 1, w - 1}, {0, w - 1}};
    for (int i = 0; i < 4; i++) {
        int row = corners[i][0], col = corners[i][1];
        double v = nearest_valid_avg(z, h, w, ndv, ndv_is_nan, row, col);
        z[(size_t)row * w + col] =
            (isnan(v) || (!ndv_is_nan && v == ndv)) ? 0.0 : v;
    }
}

/* ------------------------------------------------------------------ */
/* triangle clip to the unit square (kernels/geometry.py:              */
/* clip_triangle_by_line + clip_triangles_to_01_quadrant)              */
/* ------------------------------------------------------------------ */

#define CLIP_EPS 1e-9

typedef struct {
    double v[3][3]; /* 3 vertices x (x, y, z) */
} Tri;

/* half-plane sign vs directed axis-aligned line (geometry.py:sign_2d;
 * the four clip lines are all axis-aligned, generic branch kept for
 * parity anyway) */
static int sign2d(double px, double py, double ox, double oy, double dx,
                  double dy) {
    if (dx == 0.0) {
        int ds = dy > 0.0 ? -1 : 1;
        if (px < ox) return ds;
        if (px > ox) return -ds;
        return 0;
    }
    if (dy == 0.0) {
        int ds = dx > 0.0 ? -1 : 1;
        if (py < oy) return -ds;
        if (py > oy) return ds;
        return 0;
    }
    double d = (px - ox) * dy - (py - oy) * dx;
    if (d < CLIP_EPS) return -1;
    if (d > CLIP_EPS) return 1;
    return 0;
}

/* 2.5D segment x line intersection with z interpolation
 * (geometry.py:intersect_25d_segment_line; identical expression order,
 * + 0.0 to normalize -0.0 exactly as the Python does) */
static void isect25(const double *p0, const double *p1, double ox, double oy,
                    double dx, double dy, double *out) {
    double x1 = p0[0], y1 = p0[1];
    double x2 = p1[0], y2 = p1[1];
    double x3 = ox, y3 = oy;
    double x4 = ox + dx, y4 = oy + dy;
    double denom = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4);
    if (fabs(denom) < CLIP_EPS) {
        out[0] = out[1] = out[2] = NAN;
        return;
    }
    double cx = ((x1 * y2 - y1 * x2) * (x3 - x4) - (x1 - x2) * (x3 * y4 - y3 * x4)) / denom;
    double cy = ((x1 * y2 - y1 * x2) * (y3 - y4) - (y1 - y2) * (x3 * y4 - y3 * x4)) / denom;
    double d_p0p1 = hypot(x2 - x1, y2 - y1);
    double m = (p1[2] - p0[2]) / d_p0p1;
    double d_p0c = hypot(cx - x1, cy - y1);
    if (d_p0c < -CLIP_EPS || d_p0c > d_p0p1 + CLIP_EPS) {
        out[0] = out[1] = out[2] = NAN;
        return;
    }
    out[0] = cx + 0.0;
    out[1] = cy + 0.0;
    out[2] = m * d_p0c + p0[2] + 0.0;
}

static int front_facing(const Tri *t) {
    double nz = (t->v[0][0] - t->v[1][0]) * (t->v[0][1] - t->v[2][1]) -
                (t->v[0][0] - t->v[2][0]) * (t->v[0][1] - t->v[1][1]);
    return nz >= 0.0; /* NaN -> false, as in Python */
}

static void make_front_facing(Tri *t) {
    if (!front_facing(t)) {
        double tmp[3];
        memcpy(tmp, t->v[0], sizeof tmp);
        memcpy(t->v[0], t->v[1], sizeof tmp);
        memcpy(t->v[1], tmp, sizeof tmp);
    }
}

static double sq_dist3(const double *a, const double *b) {
    double d0 = a[0] - b[0], d1 = a[1] - b[1], d2 = a[2] - b[2];
    return d0 * d0 + d1 * d1 + d2 * d2;
}

static int tri_has_nan(const Tri *t) {
    for (int i = 0; i < 3; i++)
        for (int j = 0; j < 3; j++)
            if (isnan(t->v[i][j])) return 1;
    return 0;
}

/* clip tv[idx] by a directed line in place; may append ONE triangle
 * (*n_tv incremented). Caller guarantees capacity. */
static void clip_tri_by_line(Tri *tv, int64_t idx, int64_t *n_tv, double ox,
                             double oy, double dx, double dy) {
    Tri *t = &tv[idx];
    if (tri_has_nan(t)) return;

    double left[3][3], other[3][3];
    int other_signs[3];
    int nl = 0, no = 0;
    for (int i = 0; i < 3; i++) {
        int d = sign2d(t->v[i][0], t->v[i][1], ox, oy, dx, dy);
        if (d < 0) {
            memcpy(left[nl++], t->v[i], sizeof t->v[i]);
        } else {
            memcpy(other[no], t->v[i], sizeof t->v[i]);
            other_signs[no++] = d;
        }
    }

    if (nl == 0) {
        t->v[0][0] = t->v[0][1] = t->v[0][2] = NAN;
    } else if (nl == 1) {
        double s0[3], s1[3];
        if (other_signs[0] == 0) memcpy(s0, other[0], sizeof s0);
        else isect25(left[0], other[0], ox, oy, dx, dy, s0);
        if (other_signs[1] == 0) memcpy(s1, other[1], sizeof s1);
        else isect25(left[0], other[1], ox, oy, dx, dy, s1);
        memcpy(t->v[0], left[0], sizeof s0);
        memcpy(t->v[1], s0, sizeof s0);
        memcpy(t->v[2], s1, sizeof s1);
        make_front_facing(t);
    } else if (nl == 2) {
        if (other_signs[0] == 0) return;
        double s0[3], s1[3];
        isect25(other[0], left[0], ox, oy, dx, dy, s0);
        isect25(other[0], left[1], ox, oy, dx, dy, s1);
        double d0 = sq_dist3(s0, left[1]);
        double d1 = sq_dist3(s1, left[0]);
        int cmp_ge = d0 >= d1;
        memcpy(t->v[0], cmp_ge ? s1 : s0, sizeof s0);
        memcpy(t->v[1], left[0], sizeof s0);
        memcpy(t->v[2], left[1], sizeof s0);
        make_front_facing(t);
        Tri *nt = &tv[(*n_tv)++];
        memcpy(nt->v[0], s1, sizeof s1);
        memcpy(nt->v[1], s0, sizeof s0);
        memcpy(nt->v[2], cmp_ge ? left[0] : left[1], sizeof s0);
        make_front_facing(nt);
    }
    /* nl == 3: fully inside, unchanged */
}

static int tri_inside01(const double *t) {
    for (int vi = 0; vi < 3; vi++) {
        double x = t[vi * 3 + 0], y = t[vi * 3 + 1];
        if (!(x > 0.0 && x < 1.0 && y > 0.0 && y < 1.0)) return 0;
    }
    return 1;
}

/* clip a triangle soup (n x 3 x 3 doubles) to [0,1]^2 into a malloc'd
 * soup the caller frees; returns its length, or -1 on oom.
 * Output order matches the Python wrapper exactly: strictly-inside
 * triangles first (original order), then clip survivors in working-
 * list order (appends last, per line pass). */
static int64_t clip01_alloc(const double *tris, int64_t n, Tri **out) {
    static const double lines[4][4] = {
        {0.0, 0.0, 1.0, 0.0},   /* bottom, right-wards */
        {1.0, 0.0, 0.0, 1.0},   /* right, upwards */
        {1.0, 1.0, -1.0, 0.0},  /* top, left-wards */
        {0.0, 1.0, 0.0, -1.0},  /* left, downwards */
    };
    int64_t n_in = 0;
    for (int64_t i = 0; i < n; i++) n_in += tri_inside01(tris + i * 9);
    /* worst case growth: one append per triangle per line pass */
    int64_t cap_tv = 16 * (n - n_in) + 8;
    Tri *soup = (Tri *)malloc((size_t)(n_in + cap_tv) * sizeof(Tri));
    if (!soup) return -1;
    Tri *tv = soup + n_in;
    int64_t m = 0, n_rest = 0;
    for (int64_t i = 0; i < n; i++) {
        const double *t = tris + i * 9;
        memcpy(tri_inside01(t) ? &soup[m++] : &tv[n_rest++], t, sizeof(Tri));
    }

    for (int li = 0; li < 4; li++) {
        int64_t len_at_start = n_rest;
        for (int64_t i = 0; i < len_at_start; i++) {
            if (n_rest >= cap_tv) { free(soup); return -1; }
            clip_tri_by_line(tv, i, &n_rest, lines[li][0], lines[li][1],
                             lines[li][2], lines[li][3]);
        }
    }

    for (int64_t i = 0; i < n_rest; i++) {
        if (tri_has_nan(&tv[i])) continue;
        if (&soup[m] != &tv[i]) memcpy(&soup[m], &tv[i], sizeof(Tri));
        m++;
    }
    *out = soup;
    return m;
}

/* tris: n x 3 x 3 doubles; out must hold cap triangles. Returns m, or
 * -1 when cap would overflow. */
int64_t tin_clip01(const double *tris, int64_t n, double *out, int64_t cap) {
    if (n == 0) return 0;
    Tri *soup;
    int64_t m = clip01_alloc(tris, n, &soup);
    if (m < 0) return -1;
    if (m > cap) m = -1;
    else memcpy(out, soup, (size_t)m * sizeof(Tri));
    free(soup);
    return m;
}

/* ------------------------------------------------------------------ */
/* the post-mesh half of one tile (operators/meshing.py:_tile_terrain's */
/* NumPy path): unit-tile normalize, [0,1]^2 clip, first-seen vertex    */
/* order (kernels/codec.py:_first_seen_vertex_order) and the quantized- */
/* mesh body after the 88-byte header (kernels/codec.py:encode_qm_tile) */
/* ------------------------------------------------------------------ */

#define QM_HEADER_BYTES 88
#define QM_COORD 32767

static inline void put_u16(uint8_t *p, uint32_t v) {
    p[0] = (uint8_t)v;
    p[1] = (uint8_t)(v >> 8);
}

static inline void put_u32(uint8_t *p, uint32_t v) {
    p[0] = (uint8_t)v;
    p[1] = (uint8_t)(v >> 8);
    p[2] = (uint8_t)(v >> 16);
    p[3] = (uint8_t)(v >> 24);
}

static inline void put_index(uint8_t **p, int wide, uint64_t v) {
    if (wide) { put_u32(*p, (uint32_t)v); *p += 4; }
    else { put_u16(*p, (uint16_t)v); *p += 2; }
}

static inline uint64_t mix64(uint64_t h) {
    h ^= h >> 33;
    h *= 0xff51afd7ed558ccdULL;
    h ^= h >> 33;
    return h;
}

/* hash of a vertex by value: + 0.0 folds -0.0 into 0.0, which compare
 * equal (numpy's row-unique groups by ==, too) */
static uint64_t vertex_hash(const double *v) {
    uint64_t h = 0x9e3779b97f4a7c15ULL, b;
    for (int k = 0; k < 3; k++) {
        double x = v[k] + 0.0;
        memcpy(&b, &x, 8);
        h = mix64(h ^ b) + 0x9e3779b97f4a7c15ULL;
    }
    return h;
}

/* verts: nv_in world (x, y, z) rows; faces: nf x 3 int64 rows into
 * verts (nf > 0; an index outside [0, nv_in) returns -1, leaving
 * numpy's indexing rules to the Python path). Writes the blob from
 * byte 88 of out (cap bytes; the caller writes the header, which needs
 * zrange). counts[0..1] = n_vertices, n_faces after the clip;
 * zrange[0..1] = zmin, zmax of the face-referenced vertices, and
 * counts[2] = 1 when those hold both -0.0 and 0.0: numpy's min/max may
 * then return either zero, and only the header's copy of zmin/zmax can
 * tell them apart (the body is the same for both), so the caller takes
 * the header's pair from numpy.
 * Returns the blob length, written only when it fits in cap (a caller
 * with a smaller buffer grows it and calls again); -1 on oom, -2 on a
 * non-finite vertex or bound (encode_qm_tile raises ValueError there).
 * A clip that leaves no face still encodes. */
int64_t tin_tile_qm(const double *verts, int64_t nv_in,
                    const int64_t *faces, int64_t nf, double tile_min_x,
                    double tile_min_y, double tile_m, uint8_t *out,
                    int64_t cap, int64_t *counts, double *zrange) {
    for (int64_t k = 0; k < nf * 3; k++)
        if (faces[k] < 0 || faces[k] >= nv_in) return -1;
    double zmin = INFINITY, zmax = -INFINITY;
    int zero_signs = 0;
    for (int64_t k = 0; k < nf * 3; k++) {
        double z = verts[faces[k] * 3 + 2];
        if (!isfinite(z)) return -2; /* np.min/np.max -> non-finite bound */
        if (z < zmin) zmin = z;
        if (z > zmax) zmax = z;
        if (z == 0.0) zero_signs |= signbit(z) ? 2 : 1;
    }
    if (!(isfinite(tile_min_x) && isfinite(tile_min_y) &&
          isfinite(tile_min_x + tile_m) && isfinite(tile_min_y + tile_m)))
        return -2;
    zrange[0] = zmin;
    zrange[1] = zmax;
    double inv_z = zmax > zmin ? 1.0 / (zmax - zmin) : 1.0;

    double *unit = (double *)malloc((size_t)nf * 9 * sizeof(double));
    if (!unit) return -1;
    for (int64_t k = 0; k < nf * 3; k++) {
        const double *v = verts + faces[k] * 3;
        unit[k * 3 + 0] = (v[0] - tile_min_x) / tile_m;
        unit[k * 3 + 1] = (v[1] - tile_min_y) / tile_m;
        unit[k * 3 + 2] = (v[2] - zmin) * inv_z;
    }
    Tri *soup;
    int64_t nt = clip01_alloc(unit, nf, &soup);
    free(unit);
    if (nt < 0) return -1;
    const double *stream = (const double *)soup; /* nt*3 vertices */
    int64_t ns = nt * 3;
    for (int64_t k = 0; k < ns * 3; k++)
        if (!isfinite(stream[k])) { free(soup); return -2; }

    /* first-seen dedup: open addressing, value equality */
    int64_t tcap = 16;
    while (tcap < 2 * ns) tcap <<= 1;
    int64_t *table = (int64_t *)malloc((size_t)tcap * sizeof(int64_t));
    int64_t *sidx = (int64_t *)malloc((size_t)(ns + 1) * sizeof(int64_t));
    int64_t *first = (int64_t *)malloc((size_t)(ns + 1) * sizeof(int64_t));
    int64_t *q = (int64_t *)malloc((size_t)(ns + 1) * 3 * sizeof(int64_t));
    int64_t ret = -1;
    if (!table || !sidx || !first || !q) goto done;
    memset(table, 0xff, (size_t)tcap * sizeof(int64_t));
    int64_t nv = 0;
    for (int64_t k = 0; k < ns; k++) {
        const double *v = stream + k * 3;
        int64_t slot = (int64_t)(vertex_hash(v) & (uint64_t)(tcap - 1));
        for (;;) {
            int64_t id = table[slot];
            if (id < 0) {
                table[slot] = nv;
                first[nv] = k;
                sidx[k] = nv++;
                break;
            }
            const double *u = stream + first[id] * 3;
            if (u[0] == v[0] && u[1] == v[1] && u[2] == v[2]) {
                sidx[k] = id;
                break;
            }
            slot = (slot + 1) & (tcap - 1);
        }
    }

    /* quantize the first occurrences: truncation, as the C cast in
     * codec.scale_coordinate */
    int64_t n_edge = 0;
    for (int64_t i = 0; i < nv; i++) {
        const double *v = stream + first[i] * 3;
        for (int c = 0; c < 3; c++)
            q[i * 3 + c] = (int64_t)(v[c] * (double)QM_COORD);
        n_edge += (q[i * 3] == 0) + (q[i * 3] == QM_COORD) +
                  (q[i * 3 + 1] == 0) + (q[i * 3 + 1] == QM_COORD);
    }
    int wide = nv > 65536;
    int isz = wide ? 4 : 2;
    int64_t off = QM_HEADER_BYTES + 4 + 6 * nv;
    int64_t pad = (isz - off % isz) % isz;
    int64_t len = off + pad + 4 + isz * ns + 16 + isz * n_edge;
    ret = len;
    if (len > cap) goto done;

    uint8_t *p = out + QM_HEADER_BYTES;
    put_u32(p, (uint32_t)nv);
    p += 4;
    /* u, v, h streams: zig-zag int16 deltas */
    for (int c = 0; c < 3; c++) {
        int64_t prev = 0;
        for (int64_t i = 0; i < nv; i++) {
            int64_t cur = q[i * 3 + c];
            int16_t d = (int16_t)(uint16_t)(uint64_t)(cur - prev);
            put_u16(p, (uint16_t)(((uint16_t)d << 1) ^ (uint16_t)(d >> 15)));
            p += 2;
            prev = cur;
        }
    }
    for (int64_t i = 0; i < pad; i++) *p++ = 0xCA;
    put_u32(p, (uint32_t)nt);
    p += 4;
    /* high-watermark face indices */
    int64_t watermark = 0;
    for (int64_t k = 0; k < ns; k++) {
        put_index(&p, wide, (uint64_t)(watermark - sidx[k]));
        if (sidx[k] == watermark) watermark++;
    }
    /* edge lists: west (u == 0), south (v == max), east (u == max),
     * north (v == 0) */
    static const int edge_c[4] = {0, 1, 0, 1};
    static const int edge_v[4] = {0, QM_COORD, QM_COORD, 0};
    for (int e = 0; e < 4; e++) {
        uint8_t *cnt = p;
        p += 4;
        uint32_t n_e = 0;
        for (int64_t i = 0; i < nv; i++)
            if (q[i * 3 + edge_c[e]] == edge_v[e]) {
                put_index(&p, wide, (uint64_t)i);
                n_e++;
            }
        put_u32(cnt, n_e);
    }
    counts[0] = nv;
    counts[1] = nt;
    counts[2] = zero_signs == 3;
done:
    free(table); free(sidx); free(first); free(q); free(soup);
    return ret;
}
