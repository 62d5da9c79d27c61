/* Batch MD5 -> 60-bit hash kernel for the Python operator passes.
 *
 * The dedup/DSIR/contamination operators hash millions of short strings
 * per task with the engine's cross-engine hash h60(s) = the first 15 hex
 * chars of md5(s) as an integer (== big-endian digest[0:8] >> 4).  The
 * hashlib loop costs ~0.9us per call (call overhead dominates for short
 * inputs); this kernel streams a packed utf-8 buffer + offsets through a
 * plain RFC 1321 MD5 in ~0.1us per string and releases nothing it needs
 * the GIL for (ctypes releases the GIL around the call).
 *
 * MD5 is implemented from the public specification (RFC 1321).  The
 * 64-entry sine table is computed when the library loads, from libm's
 * sin() -- identical values to the spec's floor(abs(sin(i+1)) * 2^32)
 * table -- so there is no hand-transcribed constant block to get wrong,
 * and threads calling the kernel only ever read it; the
 * Python wrapper A/B-tests the kernel against hashlib on import and
 * falls back if anything disagrees.
 */

#include <math.h>
#include <stdint.h>
#include <string.h>

static uint32_t K[64];
static const int S[64] = {
    7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22,
    5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20,
    4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23,
    6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21};

__attribute__((constructor)) static void init_k(void) {
    for (int i = 0; i < 64; i++)
        K[i] = (uint32_t)(fabs(sin((double)(i + 1))) * 4294967296.0);
}

static inline uint32_t rotl(uint32_t x, int c) {
    return (x << c) | (x >> (32 - c));
}

static void md5_block(uint32_t st[4], const uint8_t *p) {
    uint32_t m[16];
    for (int i = 0; i < 16; i++)
        m[i] = (uint32_t)p[i * 4] | ((uint32_t)p[i * 4 + 1] << 8) |
               ((uint32_t)p[i * 4 + 2] << 16) | ((uint32_t)p[i * 4 + 3] << 24);
    uint32_t a = st[0], b = st[1], c = st[2], d = st[3];
    for (int i = 0; i < 64; i++) {
        uint32_t f;
        int g;
        if (i < 16) {
            f = (b & c) | (~b & d);
            g = i;
        } else if (i < 32) {
            f = (d & b) | (~d & c);
            g = (5 * i + 1) & 15;
        } else if (i < 48) {
            f = b ^ c ^ d;
            g = (3 * i + 5) & 15;
        } else {
            f = c ^ (b | ~d);
            g = (7 * i) & 15;
        }
        uint32_t tmp = d;
        d = c;
        c = b;
        b = b + rotl(a + f + K[i] + m[g], S[i]);
        a = tmp;
    }
    st[0] += a;
    st[1] += b;
    st[2] += c;
    st[3] += d;
}

/* h60 of md5 over one message assembled from (prefix, body) without
 * concatenating buffers: feed whole 64-byte blocks as they fill. */
static uint64_t md5_h60_2(const uint8_t *pre, int64_t npre,
                          const uint8_t *body, int64_t nbody) {
    uint32_t st[4] = {0x67452301u, 0xefcdab89u, 0x98badcfeu, 0x10325476u};
    uint8_t blk[64];
    int fill = 0;
    uint64_t total = (uint64_t)(npre + nbody);
    const uint8_t *parts[2] = {pre, body};
    int64_t lens[2] = {npre, nbody};
    for (int s = 0; s < 2; s++) {
        const uint8_t *p = parts[s];
        int64_t n = lens[s];
        while (n > 0) {
            if (fill == 0 && n >= 64) {
                md5_block(st, p);
                p += 64;
                n -= 64;
                continue;
            }
            int take = 64 - fill;
            if (n < take) take = (int)n;
            memcpy(blk + fill, p, (size_t)take);
            fill += take;
            p += take;
            n -= take;
            if (fill == 64) {
                md5_block(st, blk);
                fill = 0;
            }
        }
    }
    /* padding */
    blk[fill++] = 0x80;
    if (fill > 56) {
        memset(blk + fill, 0, (size_t)(64 - fill));
        md5_block(st, blk);
        fill = 0;
    }
    memset(blk + fill, 0, (size_t)(56 - fill));
    uint64_t bits = total << 3;
    for (int i = 0; i < 8; i++) blk[56 + i] = (uint8_t)(bits >> (8 * i));
    md5_block(st, blk);
    /* digest bytes 0..7 big-endian, top 60 bits (first 15 hex chars) */
    uint8_t dg[8];
    for (int i = 0; i < 4; i++) dg[i] = (uint8_t)(st[0] >> (8 * i));
    for (int i = 0; i < 4; i++) dg[4 + i] = (uint8_t)(st[1] >> (8 * i));
    uint64_t v = 0;
    for (int i = 0; i < 8; i++) v = (v << 8) | dg[i];
    return v >> 4;
}

/* out[i] = h60(buf[offs[i]:offs[i+1]]) */
void h60_batch(const uint8_t *buf, const int64_t *offs, int64_t n,
               uint64_t *out) {
    for (int64_t i = 0; i < n; i++)
        out[i] = md5_h60_2(NULL, 0, buf + offs[i], offs[i + 1] - offs[i]);
}

/* out[i*k + j] = h60(pref_j || s_i) over k prefixes packed like the
 * strings; used for the per-family minhash salts "0:", "1:", ... */
void h60_salted_batch(const uint8_t *buf, const int64_t *offs, int64_t n,
                      const uint8_t *pbuf, const int64_t *poffs, int32_t k,
                      uint64_t *out) {
    for (int64_t i = 0; i < n; i++) {
        const uint8_t *s = buf + offs[i];
        int64_t ns = offs[i + 1] - offs[i];
        for (int32_t j = 0; j < k; j++)
            out[i * k + j] = md5_h60_2(pbuf + poffs[j],
                                       poffs[j + 1] - poffs[j], s, ns);
    }
}
