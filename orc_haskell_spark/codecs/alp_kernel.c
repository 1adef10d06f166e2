/* ALP encode transform: the single-pass C twin of alp._try_pair +
 * exception extraction (alp.py encode()).
 *
 * Semantics are pinned to the numpy path (_try_pair) bit-for-bit:
 *   d   = (v * f10e) * if10f                (same two-multiply order)
 *   in  = isfinite(d) && fabs(d) < 2^62
 *   i   = rint(d)                           (round-half-to-even, like np.rint)
 *   rec = ((double)i * dec_f) * dec_e       (same two-multiply order as decode)
 *   good = in && bits(rec) == bits(v)       (BIT equality: -0.0, NaN fail)
 * Exceptions (positions + original values) stream out; exception slots
 * in `ints` are back-filled with the good minimum so they add nothing
 * to the downstream frame-of-reference width.
 *
 * No adds anywhere -> no FMA contraction risk under -O3 -march=native;
 * the multiply order is left-associative in both languages.
 */

#include <stdint.h>
#include <string.h>
#include <math.h>

#define ALP_LIMIT 4611686018427387904.0 /* 2^62, exact in f64 */

long alp_encode_f8(const double *v, long n,
                   double f10e, double if10f, double dec_f, double dec_e,
                   int64_t *ints, uint64_t *exc_pos, double *exc_vals)
{
    long n_exc = 0;
    int64_t fill = 0;
    int have_good = 0;
    for (long k = 0; k < n; k++) {
        double d = (v[k] * f10e) * if10f;
        int good = 0;
        int64_t i = 0;
        if (isfinite(d) && fabs(d) < ALP_LIMIT) {
            i = (int64_t)rint(d);
            double rec = ((double)i * dec_f) * dec_e;
            uint64_t rb, vb;
            memcpy(&rb, &rec, 8);
            memcpy(&vb, &v[k], 8);
            good = (rb == vb);
        }
        if (good) {
            ints[k] = i;
            if (!have_good || i < fill) { fill = i; have_good = 1; }
        } else {
            exc_pos[n_exc] = (uint64_t)k;
            exc_vals[n_exc] = v[k];
            n_exc++;
            ints[k] = 0; /* patched below once fill is known */
        }
    }
    if (have_good)
        for (long j = 0; j < n_exc; j++)
            ints[exc_pos[j]] = fill;
    return n_exc;
}

long alp_encode_f4(const float *v, long n,
                   double f10e, double if10f, double dec_f, double dec_e,
                   int64_t *ints, uint64_t *exc_pos, float *exc_vals)
{
    long n_exc = 0;
    int64_t fill = 0;
    int have_good = 0;
    for (long k = 0; k < n; k++) {
        double d = ((double)v[k] * f10e) * if10f;
        int good = 0;
        int64_t i = 0;
        if (isfinite(d) && fabs(d) < ALP_LIMIT) {
            i = (int64_t)rint(d);
            float rec = (float)(((double)i * dec_f) * dec_e);
            uint32_t rb, vb;
            memcpy(&rb, &rec, 4);
            memcpy(&vb, &v[k], 4);
            good = (rb == vb);
        }
        if (good) {
            ints[k] = i;
            if (!have_good || i < fill) { fill = i; have_good = 1; }
        } else {
            exc_pos[n_exc] = (uint64_t)k;
            exc_vals[n_exc] = v[k];
            n_exc++;
            ints[k] = 0;
        }
    }
    if (have_good)
        for (long j = 0; j < n_exc; j++)
            ints[exc_pos[j]] = fill;
    return n_exc;
}

/* ALP pair search: the C twin of alp._pair_stats, the (e, f) candidate
 * scan inside alp.choose_pair.
 *
 * For each candidate k over the sample s (f64; f4 samples widened
 * exactly), pinned to the numpy broadcast bit-for-bit:
 *   d   = s * enc_fac[k]                (ONE multiply by the precomputed
 *                                        factor, unlike alp_encode_*)
 *   in  = isfinite(d) && fabs(d) < 2^62 (the second test implies the first)
 *   i   = rint(d)
 *   rec = ((double)i * dec_f[k]) * dec_e[k]
 *   good = in && bits(rec) == orig bits (f4: bits((float)rec) vs u32)
 * and writes n_good[k] plus lo[k] / hi[k] over good values only
 * (sentinels 2^62 / -2^62 when none is good). The cost formula and the
 * argmin stay in Python (alp._pick_pair) so both paths share one float
 * log2.
 *
 * Early abandon: once n_bad > n - n/2 the pair is already rejected
 * (n_good < n/2), so the scan stops at the next block boundary; the
 * partial n_good it reports is still < n/2. Blocks keep the body free
 * of the exit test so it vectorizes.
 */

#define ALP_BLOCK 256
#define ALP_SENTINEL ((int64_t)1 << 62)

static inline void alp_scan_pairs(const double *s, const void *orig,
                                  int width, long n,
                                  const double *enc_fac,
                                  const double *dec_f, const double *dec_e,
                                  long n_pairs, int64_t *n_good,
                                  int64_t *lo, int64_t *hi)
{
    const long max_bad = n - n / 2;
    const uint32_t *o32 = (const uint32_t *)orig;
    const uint64_t *o64 = (const uint64_t *)orig;
    for (long k = 0; k < n_pairs; k++) {
        const double fac = enc_fac[k], df = dec_f[k], de = dec_e[k];
        int64_t ng = 0, lo_k = ALP_SENTINEL, hi_k = -ALP_SENTINEL;
        for (long b = 0; b < n; b += ALP_BLOCK) {
            long end = b + ALP_BLOCK < n ? b + ALP_BLOCK : n;
            for (long j = b; j < end; j++) {
                double d = s[j] * fac;
                int64_t in = fabs(d) < ALP_LIMIT;
                int64_t i = (int64_t)rint(in ? d : 0.0);
                double rec = ((double)i * df) * de;
                int64_t same;
                if (width == 4) {
                    float r4 = (float)rec;
                    uint32_t rb;
                    memcpy(&rb, &r4, 4);
                    same = rb == o32[j];
                } else {
                    uint64_t rb;
                    memcpy(&rb, &rec, 8);
                    same = rb == o64[j];
                }
                int64_t good = in & same;
                /* bitwise select, not ?: — the min/max reductions
                   vectorize only in this form */
                int64_t mask = -good;
                ng += good;
                int64_t cl = (i & mask) | (ALP_SENTINEL & ~mask);
                int64_t ch = (i & mask) | (-ALP_SENTINEL & ~mask);
                lo_k = cl < lo_k ? cl : lo_k;
                hi_k = ch > hi_k ? ch : hi_k;
            }
            if (end - ng > max_bad)
                break;
        }
        n_good[k] = ng;
        lo[k] = lo_k;
        hi[k] = hi_k;
    }
}

void alp_choose_pair(const double *s, const void *orig, int width, long n,
                     const double *enc_fac, const double *dec_f,
                     const double *dec_e, long n_pairs,
                     int64_t *n_good, int64_t *lo, int64_t *hi)
{
    /* constant width per call site -> two specialized loops */
    if (width == 4)
        alp_scan_pairs(s, orig, 4, n, enc_fac, dec_f, dec_e, n_pairs,
                       n_good, lo, hi);
    else
        alp_scan_pairs(s, orig, 8, n, enc_fac, dec_f, dec_e, n_pairs,
                       n_good, lo, hi);
}

/* ALP-RD split: the single-pass C twin of alp.rd_encode / rd_decode.
 *
 * Encode semantics pinned to the numpy path bit-for-bit:
 *   left  = bits(v) >> r            (uint16; r >= 16 for f8, >= 16 for f4)
 *   right = bits(v) & ((1<<r)-1)    (stored widened to uint64)
 *   code  = searchsorted(dict, left) clamped to dn-1   (dict sorted, dn<=8)
 *   good  = dict[code] == left; bad slots -> code 0 + (pos, left) exception
 * Decode reassembles (dict[code] << r) | right into raw bit patterns;
 * exception scatter stays in numpy (O(n_exc)).
 */

static inline int rd_lookup(const uint16_t *dict, int dn, uint16_t left)
{
    int idx = 0;
    for (int i = 0; i < dn; i++)       /* branch-free searchsorted, dn<=8 */
        idx += dict[i] < left;
    return idx < dn ? idx : dn - 1;
}

long alp_rd_encode_f8(const double *v, long n, int r,
                      const uint16_t *dict, int dn,
                      uint64_t *codes, uint64_t *right,
                      uint64_t *exc_pos, uint16_t *exc_left)
{
    const uint64_t mask = (r >= 64) ? ~0ULL : ((1ULL << r) - 1);
    long n_exc = 0;
    for (long k = 0; k < n; k++) {
        uint64_t bits;
        memcpy(&bits, &v[k], 8);
        uint16_t left = (uint16_t)(bits >> r);
        right[k] = bits & mask;
        int idx = rd_lookup(dict, dn, left);
        if (dict[idx] == left) {
            codes[k] = (uint64_t)idx;
        } else {
            codes[k] = 0;
            exc_pos[n_exc] = (uint64_t)k;
            exc_left[n_exc] = left;
            n_exc++;
        }
    }
    return n_exc;
}

long alp_rd_encode_f4(const float *v, long n, int r,
                      const uint16_t *dict, int dn,
                      uint64_t *codes, uint64_t *right,
                      uint64_t *exc_pos, uint16_t *exc_left)
{
    const uint64_t mask = (1ULL << r) - 1;
    long n_exc = 0;
    for (long k = 0; k < n; k++) {
        uint32_t bits;
        memcpy(&bits, &v[k], 4);
        uint16_t left = (uint16_t)(bits >> r);
        right[k] = (uint64_t)bits & mask;
        int idx = rd_lookup(dict, dn, left);
        if (dict[idx] == left) {
            codes[k] = (uint64_t)idx;
        } else {
            codes[k] = 0;
            exc_pos[n_exc] = (uint64_t)k;
            exc_left[n_exc] = left;
            n_exc++;
        }
    }
    return n_exc;
}

long alp_rd_decode(const uint64_t *codes, const uint64_t *right, int r,
                   const uint16_t *dict, long dn, long n,
                   uint64_t *out_bits)
{
    /* a code outside the dictionary (corrupt/truncated stripe) reads
       entry 0 instead of out of bounds and is COUNTED: the caller
       raises on a nonzero return, like the numpy twin */
    long n_bad = 0;
    if (dn <= 0)                 /* empty dictionary: every code is bad */
        return n;
    for (long k = 0; k < n; k++) {
        int ok = codes[k] < (uint64_t)dn;
        n_bad += !ok;
        out_bits[k] = ((uint64_t)dict[ok ? codes[k] : 0] << r) | right[k];
    }
    return n_bad;
}
