/* C fast-path HTML5 parser for gumbo_pp_spark.
 *
 * Covers the document-mode surface of the pure-Python engine in
 * ../html5.py, which remains the reference implementation: error
 * recording, adoption agency, foster parenting, foreign content,
 * templates, framesets, NUL input and any input bytes (decoded as
 * UTF-8 with replacement and CR-normalized by prep_input, the one
 * input path of both entries, cparse and cextract_batch).  The
 * remaining designed bails — colgroup/frameset-content NUL and its
 * ws-charref intersection — return None, and the caller re-parses in
 * Python (fragments never reach C).  That makes C-vs-Python byte
 * identity provable on the conformance corpus: whenever C produces a
 * tree at all, it must equal the Python tree column-for-column
 * (tests/test_cengine.py).
 *
 * All data tables (tag ids, per-tag behavior flags, WHATWG entities,
 * numeric-charref remaps) are code-generated from the Python engine's
 * own frozensets by gen_tables.py into chtml_tables.h.
 *
 * Semantics anchor: gumbo_pp reference src/gumbo_pp.cpp:27-34 (parse
 * of a whole document); the tree shape contract is parser/html5.py.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <string.h>
#include <stdint.h>
#include <stdlib.h>
#include <time.h>
#define NPY_NO_DEPRECATED_API NPY_1_7_API_VERSION
#include <numpy/arrayobject.h>

#include "chtml_tables.h"

/* namespaces (nodetable.py:41-43) */
enum { NSP_HTML = 0, NSP_SVG = 1, NSP_MATHML = 2 };

/* node types (nodetable.py:31-37) */
enum { T_DOCUMENT = 0, T_ELEMENT = 1, T_TEXT = 2, T_CDATA = 3,
       T_COMMENT = 4, T_WHITESPACE = 5, T_TEMPLATE = 6 };

/* insertion modes (html5.py:121-140; same order) */
enum { M_INITIAL, M_BEFORE_HTML, M_BEFORE_HEAD, M_IN_HEAD, M_AFTER_HEAD,
       M_IN_BODY, M_IN_TABLE, M_IN_TABLE_BODY, M_IN_ROW, M_IN_CELL,
       M_AFTER_BODY, M_IN_SELECT, M_IN_FRAMESET, M_AFTER_FRAMESET,
       M_IN_COLGROUP, M_AFTER_AFTER_BODY, M_IN_TEMPLATE };

/* content models returned by start handlers */
enum { CM_NONE = 0, CM_RAWTEXT, CM_RCDATA, CM_PLAINTEXT };

#define WS_CHAR(c) ((c) == ' ' || (c) == '\t' || (c) == '\n' || (c) == '\f' || (c) == '\r')

static PyObject *tag_objs[N_TAGS];   /* interned tag-name strings */
static PyObject *empty_str;          /* "" */
static PyObject *nul_str;            /* "\x00" */
static PyObject *fffd_str;           /* U+FFFD */
static PyObject *eq_str;             /* "=" (bogus-attr-name prefix) */
static PyObject *empty_attrs;        /* shared {} (copy-on-write only) */

/* ---- per-node store (struct of arrays) ---------------------------- */
typedef struct {
    int8_t   *type;
    int8_t   *ns;
    int16_t  *tid;
    int32_t  *parent;
    int32_t  *iwp;        /* filled at finalize from the child lists */
    int32_t  *first_child;
    int32_t  *last_child;
    int32_t  *next_sib;
    int64_t  *span;       /* 6 per node: s0 s1 t0 t1 e0 e1      */
    PyObject **tag;       /* owned; NULL for known tags / non-elements */
    PyObject **text;      /* owned; NULL means ""                      */
    PyObject **attrs;     /* owned; NULL means None                    */
    Py_ssize_t count, cap;
} Store;

/* active-formatting entry; tid of a _FORMATTING tag (all known) */
typedef struct { int16_t tid; int32_t nid; int64_t t0, t1; PyObject *attrs; /* borrowed */ } AfeEnt;

/* initial capacities; the stack / AFE / template-mode / pending-text
 * arrays grow by doubling (round-6: the >512-deep-stack bail class is
 * removed — depth is bounded only by input length, like html5.py) */
#define STACK_INIT 512
#define AFE_INIT 128
#define TMPL_INIT 64
#define PEND_INIT 64
#define DEFER_MAX 64

typedef struct {
    const unsigned char *s;
    Py_ssize_t n;
    /* non-ASCII input is decoded and TRANSCODED to a byte buffer
     * where every char > 0x7F becomes the placeholder 0x80 (structure
     * is pure ASCII, so offsets are preserved 1 char = 1 byte); text
     * is emitted by reading the decoded string back.  src_obj/src_kind/
     * src_data are set only in that mode (prep_input). */
    PyObject *src_obj;        /* borrowed */
    int src_kind;
    const void *src_data;
    Store st;
    int mode;
    int doc_has_nul;   /* input contains U+0000 (round-6 NUL support) */
    int bail;
    int quirks;        /* 1 until <!doctype html> */
    int skip_newline;
    int32_t *stack;            /* growable, cap = stack_cap */
    int stack_n, stack_cap;
    /* unknown-tag names for stack entries (owned, usually NULL) */
    PyObject **stack_name;     /* same cap as stack */
    AfeEnt *afe;               /* .tid == -1 → scope marker; growable */
    int afe_n, afe_cap;
    int32_t html_id, head_id, body_id;
    int open_p;
    int32_t form_ptr;
    /* foster-END delegation flag: pops proceed, any INSERTION bails
     * (foster-parented inserts break the append-only preorder) */
    int foster;
    /* 'in select in table' (html5.py select_in_table, round-5 form) */
    int select_in_table;
    /* svg/math seen: tokens dispatch through the foreign rules */
    int has_foreign;
    /* WHATWG stack of template insertion modes (one per open template) */
    int *tmpl_modes;           /* growable, cap = tmpl_cap */
    int tmpl_n, tmpl_cap;
    /* WHATWG frameset-ok flag (gates the in-body frameset takeover) */
    int frameset_ok;
    /* "in table text" pending runs: (start, end) source spans; a
     * non-NULL pend_txt[i] (owned PyBytes) carries the NUL-stripped
     * run content — the span end is already stripped-length based.
     * pend_ucs[i] (owned PyBytes wrapping a Py_UCS4 array, round-7)
     * carries the stripped ORIGINAL codepoints of a transcoded doc's
     * run, so NUL-in-table-text engages in transcoded mode too. */
    int64_t (*pend)[2];        /* growable, cap = pend_cap */
    PyObject **pend_txt;       /* same cap; NULL = read the source */
    PyObject **pend_ucs;       /* same cap; NULL = byte==codepoint */
    int pend_n, pend_cap;
    /* scratch UCS4 buffer for decoding */
    Py_UCS4 *scratch;
    Py_ssize_t scratch_cap;
    int preorder_ok;  /* creation order == preorder (html5.py:675) */
    /* recorded parse errors: (code id, position) pairs */
    int16_t *err_code;
    int64_t *err_pos;
    Py_ssize_t err_n, err_cap;
} P;

/* grow-by-doubling helpers; on OOM set bail (caller checks p->bail).
 * Each returns 1 when at least `need` slots are available. */
static int ensure_stack(P *p, int need) {
    if (need <= p->stack_cap) return 1;
    int nc = p->stack_cap ? p->stack_cap : STACK_INIT;
    while (nc < need) nc *= 2;
    int32_t *s = realloc(p->stack, (size_t)nc * sizeof(int32_t));
    if (!s) { p->bail = 1; return 0; }
    p->stack = s;
    PyObject **sn = realloc(p->stack_name, (size_t)nc * sizeof(PyObject *));
    if (!sn) { p->bail = 1; return 0; }
    for (int k = p->stack_cap; k < nc; k++) sn[k] = NULL;
    p->stack_name = sn;
    p->stack_cap = nc;
    return 1;
}

static int ensure_afe(P *p, int need) {
    if (need <= p->afe_cap) return 1;
    int nc = p->afe_cap ? p->afe_cap : AFE_INIT;
    while (nc < need) nc *= 2;
    AfeEnt *a = realloc(p->afe, (size_t)nc * sizeof(AfeEnt));
    if (!a) { p->bail = 1; return 0; }
    p->afe = a;
    p->afe_cap = nc;
    return 1;
}

static int ensure_tmpl(P *p, int need) {
    if (need <= p->tmpl_cap) return 1;
    int nc = p->tmpl_cap ? p->tmpl_cap : TMPL_INIT;
    while (nc < need) nc *= 2;
    int *t = realloc(p->tmpl_modes, (size_t)nc * sizeof(int));
    if (!t) { p->bail = 1; return 0; }
    p->tmpl_modes = t;
    p->tmpl_cap = nc;
    return 1;
}

static int ensure_pend(P *p, int need) {
    if (need <= p->pend_cap) return 1;
    int nc = p->pend_cap ? p->pend_cap : PEND_INIT;
    while (nc < need) nc *= 2;
    int64_t (*q)[2] = realloc(p->pend, (size_t)nc * 2 * sizeof(int64_t));
    if (!q) { p->bail = 1; return 0; }
    p->pend = q;
    PyObject **t = realloc(p->pend_txt, (size_t)nc * sizeof(PyObject *));
    if (!t) { p->bail = 1; return 0; }
    for (int k = p->pend_cap; k < nc; k++) t[k] = NULL;
    p->pend_txt = t;
    PyObject **u = realloc(p->pend_ucs, (size_t)nc * sizeof(PyObject *));
    if (!u) { p->bail = 1; return 0; }
    for (int k = p->pend_cap; k < nc; k++) u[k] = NULL;
    p->pend_ucs = u;
    p->pend_cap = nc;
    return 1;
}

static void err(P *p, int code, int64_t pos) {
    if (p->err_n >= p->err_cap) {
        Py_ssize_t nc = p->err_cap ? p->err_cap * 2 : 16;
        int16_t *c = realloc(p->err_code, (size_t)nc * sizeof(int16_t));
        if (!c) { p->bail = 1; return; }
        p->err_code = c;
        int64_t *q = realloc(p->err_pos, (size_t)nc * sizeof(int64_t));
        if (!q) { p->bail = 1; return; }
        p->err_pos = q;
        p->err_cap = nc;
    }
    p->err_code[p->err_n] = (int16_t)code;
    p->err_pos[p->err_n] = pos;
    p->err_n++;
}

/* parse-error codes the C engine can RECORD (exactly the strings the
 * Python engine uses at the converted sites); paths still outside the
 * C subset keep bailing. */
enum {
    E_UNEXPECTED_END_TAG, E_UNEXPECTED_START_TAG,
    E_UNEXPECTED_START_TAG_IN_TABLE, E_UNEXPECTED_END_TAG_IN_TABLE,
    E_UNEXPECTED_CHARACTER, E_DUPLICATE_ATTRIBUTE,
    E_PROCESSING_INSTRUCTION, E_NESTED_FORM_IGNORED,
    E_EMPTY_END_TAG, E_EOF_IN_TAG, E_EOF_IN_END_TAG,
    E_EOF_BEFORE_TAG_NAME, E_END_TAG_WITH_ATTRIBUTES,
    E_ABRUPT_EMPTY_COMMENT, E_INCORRECTLY_CLOSED_COMMENT,
    E_UNEXPECTED_DOCTYPE, E_UNEXPECTED_START_TAG_IN_SELECT,
    E_ADOPTION_AGENCY, E_UNEXPECTED_CHARACTER_TT,
    E_UNEXPECTED_START_TAG_AFTER_HEAD,
    E_UNEXPECTED_END_TAG_IN_SELECT_IN_TABLE,
    E_HTML_IN_FOREIGN_CONTENT,
    E_UNEXPECTED_FRAMESET, E_TEXT_IN_FRAMESET,
    E_UNEXPECTED_START_TAG_IN_FRAMESET, E_UNEXPECTED_START_TAG_AFTER_FRAMESET,
    E_UNEXPECTED_END_TAG_IN_FRAMESET, E_UNEXPECTED_END_TAG_AFTER_FRAMESET,
    E_DEPRECATED_TAG, E_UNEXPECTED_NULL,
    N_ERR_CODES
};
static const char *ERR_CODE_STRS[N_ERR_CODES] = {
    "unexpected-end-tag", "unexpected-start-tag",
    "unexpected-start-tag-in-table", "unexpected-end-tag-in-table",
    "unexpected-character", "duplicate-attribute",
    "processing-instruction", "nested-form-ignored",
    "empty-end-tag", "eof-in-tag", "eof-in-end-tag",
    "eof-before-tag-name", "end-tag-with-attributes",
    "abrupt-closing-of-empty-comment", "incorrectly-closed-comment",
    "unexpected-doctype", "unexpected-start-tag-in-select",
    "adoption-agency", "unexpected-character",
    "unexpected-start-tag-after-head",
    "unexpected-end-tag-in-select-in-table",
    "html-in-foreign-content",
    "unexpected-frameset", "text-in-frameset",
    "unexpected-start-tag-in-frameset", "unexpected-start-tag-after-frameset",
    "unexpected-end-tag-in-frameset", "unexpected-end-tag-after-frameset",
    "deprecated-tag", "unexpected-null-character",
};

#define BAILV(p)   do { (p)->bail = 1; return; } while (0)
#define BAILI(p)   do { (p)->bail = 1; return -1; } while (0)
#define CHKV(p)    do { if ((p)->bail) return; } while (0)
#define CHKI(p)    do { if ((p)->bail) return -1; } while (0)

static int store_grow(Store *st) {
    Py_ssize_t nc = st->cap ? st->cap * 2 : 256;
    void *a;
#define GROW(f, t) a = realloc(st->f, nc * sizeof(t)); if (!a) return -1; st->f = a;
    GROW(type, int8_t) GROW(ns, int8_t) GROW(tid, int16_t) GROW(parent, int32_t)
    GROW(iwp, int32_t) GROW(first_child, int32_t) GROW(last_child, int32_t)
    GROW(next_sib, int32_t)
    GROW(tag, PyObject *) GROW(text, PyObject *) GROW(attrs, PyObject *)
#undef GROW
    a = realloc(st->span, nc * 6 * sizeof(int64_t));
    if (!a) return -1;
    st->span = a;
    st->cap = nc;
    return 0;
}

/* append a node; steals refs to tagobj/text/attrs (each may be NULL) */
static int32_t new_node(P *p, int type, int tid, PyObject *tagobj,
                        PyObject *text, PyObject *attrs,
                        int64_t s0, int64_t s1, int64_t t0, int64_t t1,
                        int64_t e0, int64_t e1) {
    Store *st = &p->st;
    if (st->count >= st->cap && store_grow(st) < 0) { Py_XDECREF(tagobj); Py_XDECREF(text); Py_XDECREF(attrs); BAILI(p); }
    /* node ids are int32 throughout the SoA store: a multi-GiB single
     * document could overflow the cast below and corrupt parent/child
     * links — bail to the Python engine instead (ADVICE r5) */
    if (st->count >= (Py_ssize_t)INT32_MAX) { Py_XDECREF(tagobj); Py_XDECREF(text); Py_XDECREF(attrs); BAILI(p); }
    Py_ssize_t i = st->count++;
    st->type[i] = (int8_t)type;
    st->ns[i] = NSP_HTML;  /* foreign inserts overwrite after creation */
    st->tid[i] = (int16_t)((type == T_ELEMENT || type == T_TEMPLATE) ? tid : -1);
    st->parent[i] = -1;
    st->iwp[i] = 0;
    st->first_child[i] = -1;
    st->last_child[i] = -1;
    st->next_sib[i] = -1;
    st->tag[i] = tagobj;
    st->text[i] = text;
    st->attrs[i] = attrs;
    int64_t *sp = st->span + 6 * i;
    sp[0] = s0; sp[1] = s1; sp[2] = t0; sp[3] = t1; sp[4] = e0; sp[5] = e1;
    return (int32_t)i;
}

static void attach(P *p, int32_t nid, int32_t parent) {
    Store *st = &p->st;
    st->parent[nid] = parent;
    st->next_sib[nid] = -1;
    if (st->last_child[parent] < 0) st->first_child[parent] = nid;
    else st->next_sib[st->last_child[parent]] = nid;
    st->last_child[parent] = nid;
}

/* insert nid into parent's child list BEFORE `before` (the foster-
 * parenting location).  Creation order is no longer preorder →
 * finalize takes the DFS-renumber path (html5.py preorder_ok). */
static void attach_before(P *p, int32_t nid, int32_t parent, int32_t before) {
    Store *st = &p->st;
    if (before < 0) { attach(p, nid, parent); return; }
    st->parent[nid] = parent;
    st->next_sib[nid] = before;
    if (st->first_child[parent] == before) {
        st->first_child[parent] = nid;
    } else {
        int32_t c = st->first_child[parent];
        while (c >= 0 && st->next_sib[c] != before) c = st->next_sib[c];
        if (c < 0) { p->bail = 1; return; }  /* invariant: before is a child */
        st->next_sib[c] = nid;
    }
    p->preorder_ok = 0;
}

/* previous sibling of `child` under `parent` (-1 when first) */
static int32_t prev_sibling(P *p, int32_t parent, int32_t child) {
    Store *st = &p->st;
    int32_t c = st->first_child[parent];
    if (c == child) return -1;
    while (c >= 0 && st->next_sib[c] != child) c = st->next_sib[c];
    return c;
}

/* _detach (html5.py:1158-1162) */
static void detach(P *p, int32_t nid) {
    Store *st = &p->st;
    int32_t parent = st->parent[nid];
    if (parent >= 0) {
        int32_t prev = prev_sibling(p, parent, nid);
        if (prev < 0) st->first_child[parent] = st->next_sib[nid];
        else st->next_sib[prev] = st->next_sib[nid];
        if (st->last_child[parent] == nid) st->last_child[parent] = prev;
    }
    st->parent[nid] = -1;
    st->next_sib[nid] = -1;
}

static inline int32_t cur(P *p) { return p->stack_n ? p->stack[p->stack_n - 1] : 0; }
static inline int16_t cur_tid(P *p) { return p->stack_n ? p->st.tid[p->stack[p->stack_n - 1]] : -1; }

static void push_node(P *p, int32_t nid, PyObject *name_if_unknown /* borrowed */) {
    if (!ensure_stack(p, p->stack_n + 1)) return;
    p->stack[p->stack_n] = nid;
    Py_XINCREF(name_if_unknown);
    p->stack_name[p->stack_n] = name_if_unknown;
    p->stack_n++;
}

static void pop_node(P *p) {
    if (!p->stack_n) return;
    p->stack_n--;
    Py_CLEAR(p->stack_name[p->stack_n]);
}

static inline unsigned int tflags(int tid) {
    return tid >= 0 && tid < N_TAGS ? TAG_FLAGS[tid] : UNKNOWN_FLAGS;
}

/* ---- tag-name lookup (bsearch over TAG_SORTED) -------------------- */
static int tag_lookup(const char *name, Py_ssize_t len) {
    int lo = 0, hi = N_TAGS - 1;
    while (lo <= hi) {
        int mid = (lo + hi) / 2;
        const char *t = TAG_STRS[TAG_SORTED[mid]];
        int c = strncmp(name, t, (size_t)len);
        if (c == 0 && t[len] != '\0') c = -1;  /* name is a prefix */
        if (c == 0) return TAG_SORTED[mid];
        if (c < 0) hi = mid - 1; else lo = mid + 1;
    }
    return TID_UNKNOWN;
}

/* node's tag matches a token (tid, name): by id for known tags, by
 * string for unknown ones (html5.py compares lowercase names; all
 * HTML namespace in the C subset) */
static int tag_eq(P *p, int32_t nid, int tid, PyObject *name) {
    if (tid != TID_UNKNOWN) return p->st.tid[nid] == tid;
    if (p->st.tid[nid] != TID_UNKNOWN) return 0;
    PyObject *nt = p->st.tag[nid];
    if (!nt || !name) return 0;
    return PyUnicode_Compare(nt, name) == 0;
}

/* ---- entity tables ------------------------------------------------ */
static int ent_lookup(const char *name, Py_ssize_t len) {
    int lo = 0, hi = N_ENTITIES - 1;
    while (lo <= hi) {
        int mid = (lo + hi) / 2;
        const char *t = ENT_NAMES[mid];
        int c = strncmp(name, t, (size_t)len);
        if (c == 0 && t[len] != '\0') c = -1;
        if (c == 0) return mid;
        if (c < 0) hi = mid - 1; else lo = mid + 1;
    }
    return -1;
}

/* original codepoint at index i (placeholder-transcoded mode) */
static inline Py_UCS4 rd(P *p, Py_ssize_t i) {
    if (p->src_data)
        return PyUnicode_READ(p->src_kind, p->src_data, i);
    return p->s[i];
}

/* append one UTF-8 string to a UCS4 buffer (entity values are
 * pre-validated UTF-8 from the stdlib tables) */
static Py_ssize_t ucs4_append_utf8(Py_UCS4 *out, Py_ssize_t k, const char *u) {
    const unsigned char *b = (const unsigned char *)u;
    while (*b) {
        Py_UCS4 cp;
        if (*b < 0x80) { cp = *b; b += 1; }
        else if ((*b & 0xe0) == 0xc0) { cp = (Py_UCS4)(*b & 0x1f) << 6 | (b[1] & 0x3f); b += 2; }
        else if ((*b & 0xf0) == 0xe0) { cp = (Py_UCS4)(*b & 0x0f) << 12 | (Py_UCS4)(b[1] & 0x3f) << 6 | (b[2] & 0x3f); b += 3; }
        else { cp = (Py_UCS4)(*b & 0x07) << 18 | (Py_UCS4)(b[1] & 0x3f) << 12 | (Py_UCS4)(b[2] & 0x3f) << 6 | (b[3] & 0x3f); b += 4; }
        out[k++] = cp;
    }
    return k;
}

/* numeric reference resolution — html._replace_charref numeric branch */
static Py_ssize_t numref_append(Py_UCS4 *out, Py_ssize_t k, long num) {
    for (int i = 0; i < N_INVALID_CHARREFS; i++) {
        if (INVALID_CHARREF_KEYS[i] == (int)num)
            return ucs4_append_utf8(out, k, INVALID_CHARREF_VALS[i]);
        if (INVALID_CHARREF_KEYS[i] > (int)num) break;
    }
    if ((num >= 0xD800 && num <= 0xDFFF) || num > 0x10FFFF) { out[k++] = 0xFFFD; return k; }
    for (int i = 0; i < N_INVALID_CODEPOINTS; i++)
        if (INVALID_CODEPOINTS[i] == (int)num) return k;  /* dropped */
    out[k++] = (Py_UCS4)num;
    return k;
}

/* One reference at s[i] ('&'), html.unescape regex semantics:
 *   &(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[^\t\n\f <&#;]{1,32};?)
 * Writes the replacement to out/k, returns chars consumed from s
 * (0 = no match, '&' is literal). */
/* ``ub`` (round-7): buffer-local original codepoints when ``s`` is a
 * COMPACTED run copy of a transcoded doc (decode_buf) — the literal
 * fallback must then read buffer-local chars, never rd(p, base+...)
 * which indexes the ORIGINAL document (the compaction shifted
 * offsets).  NULL everywhere s/base address the document itself. */
static Py_ssize_t unescape_ref(P *p, const unsigned char *s, const Py_UCS4 *ub,
                               Py_ssize_t base,
                               Py_ssize_t i, Py_ssize_t n,
                               Py_UCS4 *out, Py_ssize_t *k) {
    Py_ssize_t j = i + 1;
    if (j < n && s[j] == '#') {
        Py_ssize_t d = j + 1;
        long num = 0;
        int overflow = 0;
        if (d < n && (s[d] == 'x' || s[d] == 'X')) {
            Py_ssize_t h = d + 1, h0 = h;
            while (h < n && ((s[h] >= '0' && s[h] <= '9') || (s[h] >= 'a' && s[h] <= 'f') || (s[h] >= 'A' && s[h] <= 'F'))) {
                if (!overflow) {
                    int v = s[h] <= '9' ? s[h] - '0' : (s[h] | 32) - 'a' + 10;
                    num = num * 16 + v;
                    if (num > 0x7FFFFFF) overflow = 1;
                }
                h++;
            }
            if (h == h0) return 0;
            if (h < n && s[h] == ';') h++;
            *k = numref_append(out, *k, overflow ? 0x110000 : num);
            return h - i;
        }
        Py_ssize_t h = d, h0 = d;
        while (h < n && s[h] >= '0' && s[h] <= '9') {
            if (!overflow) {
                num = num * 10 + (s[h] - '0');
                if (num > 0x7FFFFFF) overflow = 1;
            }
            h++;
        }
        if (h == h0) return 0;
        if (h < n && s[h] == ';') h++;
        *k = numref_append(out, *k, overflow ? 0x110000 : num);
        return h - i;
    }
    /* named: [^\t\n\f <&#;]{1,32} then optional ';' */
    Py_ssize_t m = 0;
    char name[34];
    while (j + m < n && m < 32) {
        unsigned char c = s[j + m];
        if (c == '\t' || c == '\n' || c == '\f' || c == ' ' || c == '<' || c == '&' || c == '#' || c == ';')
            break;
        name[m] = (char)c;
        m++;
    }
    if (m == 0) return 0;
    Py_ssize_t mlen = m;
    if (j + m < n && s[j + m] == ';') { name[mlen++] = ';'; }
    name[mlen] = '\0';
    /* full lookup, then the longest-prefix walk (prefix length >= 2).
     * Literal fallbacks re-read ORIGINAL codepoints (a placeholder
     * byte stands for any non-ASCII char in the name run). */
    int e = ent_lookup(name, mlen);
    if (e >= 0) { *k = ucs4_append_utf8(out, *k, ENT_VALUES[e]); return 1 + mlen; }
    for (Py_ssize_t x = mlen - 1; x >= 2; x--) {
        e = ent_lookup(name, x);
        if (e >= 0) {
            *k = ucs4_append_utf8(out, *k, ENT_VALUES[e]);
            for (Py_ssize_t q = x; q < mlen; q++)
                out[(*k)++] = ub ? ub[j + q]
                              : p->src_data ? rd(p, base + j + q)
                                            : (Py_UCS4)s[j + q];
            return 1 + mlen;
        }
    }
    out[(*k)++] = '&';
    for (Py_ssize_t q = 0; q < mlen; q++)
        out[(*k)++] = ub ? ub[j + q]
                      : p->src_data ? rd(p, base + j + q)
                                    : (Py_UCS4)s[j + q];
    return 1 + mlen;
}

static int scratch_ensure(P *p, Py_ssize_t need) {
    if (p->scratch_cap >= need) return 0;
    Py_ssize_t nc = need + 64;
    Py_UCS4 *a = realloc(p->scratch, (size_t)nc * sizeof(Py_UCS4));
    if (!a) return -1;
    p->scratch = a; p->scratch_cap = nc;
    return 0;
}

/* _decode(raw) == html.unescape(raw) for the span [a, b) */
static PyObject *decode_text(P *p, Py_ssize_t a, Py_ssize_t b) {
    const unsigned char *s = p->s;
    const unsigned char *amp = memchr(s + a, '&', (size_t)(b - a));
    if (!amp) {
        if (p->src_data) return PyUnicode_Substring(p->src_obj, a, b);
        return PyUnicode_FromKindAndData(PyUnicode_1BYTE_KIND, s + a, b - a);
    }
    if (scratch_ensure(p, b - a) < 0) return NULL;
    Py_UCS4 *out = p->scratch;
    Py_ssize_t k = 0;
    for (Py_ssize_t i = a; i < b; ) {
        if (s[i] == '&') {
            Py_ssize_t used = unescape_ref(p, s, NULL, 0, i, b, out, &k);
            if (used) { i += used; continue; }
        }
        out[k++] = rd(p, i);
        i++;
    }
    return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, out, k);
}

/* source slice as str (no decoding); bytes are codepoints for ASCII
 * input, and the decoded string is sliced in transcoded mode */
static PyObject *ascii_slice(P *p, Py_ssize_t a, Py_ssize_t b) {
    if (p->src_data) return PyUnicode_Substring(p->src_obj, a, b);
    return PyUnicode_FromKindAndData(PyUnicode_1BYTE_KIND, p->s + a, b - a);
}

/* Lowercased tag/attr name from the source span [a, b) — the rare
 * non-ASCII-name path (round-7).  WHATWG lowercases ASCII LETTERS
 * ONLY ("Uppercase ASCII letter: append the lowercase version";
 * libgumbo's gumbo_tolower is ASCII too, html5.py:_ascii_lower is the
 * Python mirror) — '<DÉV>' becomes 'dÉv', never 'dév'.  Known ASCII
 * names never come here.  A name byte >= 0x80 exists only in
 * transcoded input, so the original codepoints are read back from
 * src_str.  Sets p->bail on failure, returns NULL. */
static PyObject *lowered_name_slice(P *p, Py_ssize_t a, Py_ssize_t b) {
    Py_ssize_t L = b - a;
    if (scratch_ensure(p, L) < 0) { p->bail = 1; return NULL; }
    Py_UCS4 *out = p->scratch;
    for (Py_ssize_t q = 0; q < L; q++) {
        Py_UCS4 c = rd(p, a + q);
        out[q] = (c >= 'A' && c <= 'Z') ? c + 32 : c;
    }
    PyObject *u = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, out, L);
    if (!u) { PyErr_Clear(); p->bail = 1; return NULL; }
    return u;
}

/* _decode_attr (html5.py:411-441): _CHARREF_RE =
 *   &(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[a-zA-Z][a-zA-Z0-9]*;?)
 * '#'-refs and ';'-terminated named refs go through full unescape
 * semantics; a no-semicolon named ref is decoded only on an EXACT
 * table hit not followed by '='. */
static PyObject *decode_attr(P *p, Py_ssize_t off, Py_ssize_t len) {
    const unsigned char *s = p->s + off;
    if (!memchr(s, '&', (size_t)len)) {
        if (p->src_data) return PyUnicode_Substring(p->src_obj, off, off + len);
        return PyUnicode_FromKindAndData(PyUnicode_1BYTE_KIND, s, len);
    }
    if (scratch_ensure(p, len) < 0) return NULL;
    Py_UCS4 *out = p->scratch;
    Py_ssize_t k = 0;
    for (Py_ssize_t i = 0; i < len; ) {
        if (s[i] != '&') { out[k++] = rd(p, off + i); i++; continue; }
        Py_ssize_t j = i + 1;
        if (j < len && s[j] == '#') {
            /* numeric: match #[0-9]+;? or #[xX]hex+;? then replay
             * unescape on exactly the matched span */
            Py_ssize_t h = j + 1;
            if (h < len && (s[h] == 'x' || s[h] == 'X')) {
                Py_ssize_t h0 = ++h;
                while (h < len && ((s[h] >= '0' && s[h] <= '9') || ((s[h] | 32) >= 'a' && (s[h] | 32) <= 'f'))) h++;
                if (h == h0) { out[k++] = s[i++]; continue; }  /* '&#x': ASCII */
            } else {
                Py_ssize_t h0 = h;
                while (h < len && s[h] >= '0' && s[h] <= '9') h++;
                if (h == h0) { out[k++] = s[i++]; continue; }  /* '&#': ASCII */
            }
            if (h < len && s[h] == ';') h++;
            Py_ssize_t used = unescape_ref(p, s, NULL, off, i, h, out, &k);
            if (!used) { out[k++] = rd(p, off + i); i++; continue; }
            i += used;
            /* unescape_ref may consume less than the attr-regex match
             * (e.g. >32-char digit runs are impossible for numerics
             * here since both regexes agree on numerics) */
            continue;
        }
        /* named: [a-zA-Z][a-zA-Z0-9]* then optional ';' */
        Py_ssize_t m = 0;
        while (j + m < len) {
            unsigned char c = s[j + m];
            int alpha = (c | 32) >= 'a' && (c | 32) <= 'z';
            int digit = c >= '0' && c <= '9';
            if (m == 0 ? !alpha : !(alpha || digit)) break;
            m++;
        }
        if (m == 0) { out[k++] = '&'; i++; continue; }  /* lone '&': ASCII */
        if (j + m < len && s[j + m] == ';') {
            /* replay full unescape semantics on "&name;" */
            Py_ssize_t end = j + m + 1;
            Py_ssize_t used = unescape_ref(p, s, NULL, off, i, end, out, &k);
            if (used) i += used;
            /* if unescape consumed less than the whole match (name
             * longer than 32 chars), the remainder is emitted
             * literally by the outer loop */
            else { out[k++] = '&'; i++; }
            continue;
        }
        /* no semicolon: exact hit not followed by '=' decodes */
        unsigned char nxt = (j + m < len) ? s[j + m] : 0;
        int e = (m <= 64) ? ent_lookup((const char *)(s + j), m) : -1;
        if (nxt != '=' && e >= 0) {
            k = ucs4_append_utf8(out, k, ENT_VALUES[e]);
        } else {
            out[k++] = '&';
            for (Py_ssize_t q = 0; q < m; q++) out[k++] = rd(p, off + j + q);
        }
        i = j + m;
    }
    return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, out, k);
}

/* ---- AFE ---------------------------------------------------------- */
static void afe_push_marker(P *p) {
    if (!ensure_afe(p, p->afe_n + 1)) return;
    p->afe[p->afe_n].tid = -1;
    p->afe[p->afe_n].attrs = NULL;
    p->afe_n++;
}

/* Noah's Ark (html5.py:1132-1150): >=3 same (tag, attrs) after the
 * last marker evict the earliest */
static void afe_push(P *p, int tid, PyObject *attrs /* borrowed */, int64_t t0, int64_t t1, int32_t nid) {
    int count = 0, earliest = -1;
    for (int k = p->afe_n - 1; k >= 0; k--) {
        AfeEnt *e = &p->afe[k];
        if (e->tid == -1) break;
        if (e->tid == tid) {
            int eq = PyObject_RichCompareBool(e->attrs ? e->attrs : empty_attrs,
                                              attrs ? attrs : empty_attrs, Py_EQ);
            if (eq < 0) { PyErr_Clear(); eq = 0; }
            if (eq) { count++; earliest = k; }
        }
    }
    if (count >= 3 && earliest >= 0) {
        memmove(&p->afe[earliest], &p->afe[earliest + 1],
                (size_t)(p->afe_n - earliest - 1) * sizeof(AfeEnt));
        p->afe_n--;
    }
    if (!ensure_afe(p, p->afe_n + 1)) return;
    AfeEnt *e = &p->afe[p->afe_n++];
    e->tid = (int16_t)tid; e->attrs = attrs; e->t0 = t0; e->t1 = t1; e->nid = nid;
}

static void afe_remove_nid(P *p, int32_t nid) {
    for (int k = p->afe_n - 1; k >= 0; k--) {
        if (p->afe[k].tid != -1 && p->afe[k].nid == nid) {
            memmove(&p->afe[k], &p->afe[k + 1], (size_t)(p->afe_n - k - 1) * sizeof(AfeEnt));
            p->afe_n--;
            return;
        }
    }
}

static void afe_clear_to_marker(P *p) {
    while (p->afe_n) {
        p->afe_n--;
        if (p->afe[p->afe_n].tid == -1) return;
    }
}

static int nid_on_stack(P *p, int32_t nid) {
    for (int k = p->stack_n - 1; k >= 0; k--) if (p->stack[k] == nid) return k;
    return -1;
}

/* ---- scope checks ------------------------------------------------- */
/* _is_mtext_ip / _is_html_ip / _is_foreign_boundary (html5.py:912-931,
 * 960-...): MathML text IPs + annotation-xml[encoding] + SVG HTML IPs */
static int attr_encoding_is_html(P *p, int32_t nid) {
    PyObject *a = p->st.attrs[nid];
    if (!a) return 0;
    PyObject *v = PyDict_GetItemString(a, "encoding");
    if (!v) return 0;
    static const char *wants[2] = {"text/html", "application/xhtml+xml"};
    Py_ssize_t L = PyUnicode_GET_LENGTH(v);
    int kind = PyUnicode_KIND(v);
    const void *data = PyUnicode_DATA(v);
    for (int w = 0; w < 2; w++) {
        const char *t = wants[w];
        Py_ssize_t q = 0;
        for (; q < L; q++) {
            Py_UCS4 c = PyUnicode_READ(kind, data, q);
            if (c >= 'A' && c <= 'Z') c += 32;
            if (t[q] == '\0' || (Py_UCS4)(unsigned char)t[q] != c) break;
        }
        if (q == L && t[q] == '\0') return 1;
    }
    return 0;
}

static int name_is(P *p, int32_t nid, const char *want) {
    PyObject *nm = p->st.tag[nid];
    if (!nm) {
        int t = p->st.tid[nid];
        return t >= 0 && t < N_TAGS && strcmp(TAG_STRS[t], want) == 0;
    }
    return PyUnicode_CompareWithASCIIString(nm, want) == 0;
}

static int is_mtext_ip(P *p, int32_t nid) {
    if (p->st.ns[nid] != NSP_MATHML) return 0;
    int t = p->st.tid[nid];
    return t == TID_MI || t == TID_MO || t == TID_MN || t == TID_MS || t == TID_MTEXT;
}

static int is_html_ip(P *p, int32_t nid) {
    int ns = p->st.ns[nid];
    if (ns == NSP_SVG) {
        int t = p->st.tid[nid];
        if (t == TID_DESC || t == TID_TITLE) return 1;
        return name_is(p, nid, "foreignObject");
    }
    if (ns == NSP_MATHML && p->st.tid[nid] == TID_ANNOTATION_XML)
        return attr_encoding_is_html(p, nid);
    return 0;
}

static int is_foreign_boundary(P *p, int32_t nid) {
    if (p->st.ns[nid] == NSP_MATHML) {
        int t = p->st.tid[nid];
        return t == TID_MI || t == TID_MO || t == TID_MN || t == TID_MS ||
               t == TID_MTEXT || t == TID_ANNOTATION_XML;
    }
    if (p->st.ns[nid] == NSP_SVG) {
        int t = p->st.tid[nid];
        return t == TID_DESC || t == TID_TITLE || name_is(p, nid, "foreignObject");
    }
    return 0;
}

/* _in_scope (html5.py:840-852): boundaries F_SCOPE_BOUNDARY plus up
 * to two extra tids (button scope / list-item scope extras); foreign
 * integration points are boundaries too */
static int in_scope(P *p, int tid, int extra1, int extra2) {
    for (int k = p->stack_n - 1; k >= 0; k--) {
        int32_t nid = p->stack[k];
        if (p->st.ns[nid] == NSP_HTML) {
            int t = p->st.tid[nid];
            if (t == tid) return 1;
            if (t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_SCOPE_BOUNDARY)) return 0;
            if (t == extra1 || t == extra2) return 0;
        } else if (is_foreign_boundary(p, nid)) return 0;
    }
    return 0;
}

static int node_in_scope(P *p, int32_t target) {
    for (int k = p->stack_n - 1; k >= 0; k--) {
        int32_t nid = p->stack[k];
        if (nid == target) return 1;
        if (p->st.ns[nid] == NSP_HTML) {
            int t = p->st.tid[nid];
            if (t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_SCOPE_BOUNDARY)) return 0;
        } else if (is_foreign_boundary(p, nid)) return 0;
    }
    return 0;
}

/* _in_table_scope: boundaries html, table, template; only HTML-ns
 * nodes match or bound (html5.py:883-896) */
static int in_table_scope(P *p, int tid) {
    for (int k = p->stack_n - 1; k >= 0; k--) {
        int32_t nid = p->stack[k];
        if (p->st.ns[nid] != NSP_HTML) continue;
        int t = p->st.tid[nid];
        if (t == tid) return 1;
        if (t == TID_HTML || t == TID_TABLE || t == TID_TEMPLATE) return 0;
    }
    return 0;
}

/* ---- close/pop helpers -------------------------------------------- */
/* _close_implied (html5.py:1163-1170) */
static void close_implied(P *p, int32_t nid, int64_t pos) {
    int64_t *sp = p->st.span + 6 * nid;
    sp[4] = sp[5] = pos;
    sp[1] = pos;
    if (p->st.tid[nid] == TID_P) p->open_p--;
}

static void set_end_span(P *p, int32_t nid, int64_t e0, int64_t e1) {
    int64_t *sp = p->st.span + 6 * nid;
    sp[4] = e0; sp[5] = e1; sp[1] = e1;
}

/* _pop_until (html5.py:1313-1364) for a token (tid, name); e0 < 0 →
 * zero-length implied span at pos */
static int pop_until(P *p, int tid, PyObject *name, int64_t pos, int64_t e0, int64_t e1) {
    Store *st = &p->st;
    if (p->stack_n && tag_eq(p, p->stack[p->stack_n - 1], tid, name)) {
        int32_t nid = p->stack[p->stack_n - 1];
        pop_node(p);
        if (tid == TID_P) p->open_p--;
        if (e0 >= 0) set_end_span(p, nid, e0, e1);
        else set_end_span(p, nid, pos, pos);
        unsigned int fl = tflags(tid);
        if (fl & F_FORMATTING) afe_remove_nid(p, nid);
        else if (tid == TID_TD || tid == TID_TH || tid == TID_CAPTION ||
                 tid == TID_APPLET || tid == TID_MARQUEE || tid == TID_OBJECT)
            afe_clear_to_marker(p);
        return 1;
    }
    int found = -1;
    for (int k = p->stack_n - 1; k >= 0; k--)
        if (tag_eq(p, p->stack[k], tid, name)) { found = k; break; }
    if (found < 0) return 0;
    while (p->stack_n) {
        int32_t nid = p->stack[p->stack_n - 1];
        pop_node(p);
        if (st->tid[nid] == TID_P) p->open_p--;
        if (tag_eq(p, nid, tid, name)) {
            if (e0 >= 0) set_end_span(p, nid, e0, e1);
            else set_end_span(p, nid, pos, pos);
            unsigned int fl = tflags(tid);
            if (fl & F_FORMATTING) afe_remove_nid(p, nid);
            else if (tid == TID_TD || tid == TID_TH || tid == TID_CAPTION ||
                     tid == TID_APPLET || tid == TID_MARQUEE || tid == TID_OBJECT)
                afe_clear_to_marker(p);
            return 1;
        }
        set_end_span(p, nid, pos, pos);
    }
    return 0;
}

/* _is_special (html5.py:904-909), namespace-aware */
static int is_special_nid(P *p, int32_t nid) {
    if (p->st.ns[nid] == NSP_HTML) {
        int t = p->st.tid[nid];
        return t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_SPECIAL);
    }
    return is_foreign_boundary(p, nid);
}

/* remove a node from the MIDDLE of the open-element stack (the
 * in-body </form> rule removes the form pointer's element in place) */
static void stack_remove_at(P *p, int k) {
    Py_CLEAR(p->stack_name[k]);
    memmove(&p->stack[k], &p->stack[k + 1], (size_t)(p->stack_n - k - 1) * sizeof(int32_t));
    memmove(&p->stack_name[k], &p->stack_name[k + 1],
            (size_t)(p->stack_n - k - 1) * sizeof(PyObject *));
    p->stack_n--;
    p->stack_name[p->stack_n] = NULL;
}

static void stack_insert_at(P *p, int k, int32_t nid) {
    if (!ensure_stack(p, p->stack_n + 1)) return;
    memmove(&p->stack[k + 1], &p->stack[k], (size_t)(p->stack_n - k) * sizeof(int32_t));
    memmove(&p->stack_name[k + 1], &p->stack_name[k],
            (size_t)(p->stack_n - k) * sizeof(PyObject *));
    p->stack[k] = nid;
    p->stack_name[k] = NULL;
    p->stack_n++;
}

static int stack_has_tid(P *p, int tid) {
    for (int k = p->stack_n - 1; k >= 0; k--)
        if (p->st.tid[p->stack[k]] == tid) return 1;
    return 0;
}

/* _merge_root_attrs (html5.py:1720-1737): duplicate <html>/<body>
 * start tags merge MISSING attributes copy-on-write */
static void merge_root_attrs(P *p, int32_t target, PyObject *attrs /* borrowed */) {
    if (target < 0 || !attrs || PyDict_GET_SIZE(attrs) == 0) return;
    PyObject *existing = p->st.attrs[target];
    if (!existing) return;
    PyObject *merged = NULL;
    PyObject *key, *value;
    Py_ssize_t it = 0;
    while (PyDict_Next(attrs, &it, &key, &value)) {
        int has = PyDict_Contains(existing, key);
        if (has < 0) { PyErr_Clear(); Py_XDECREF(merged); BAILV(p); }
        if (!has) {
            if (!merged) {
                merged = PyDict_Copy(existing);
                if (!merged) { PyErr_Clear(); BAILV(p); }
            }
            if (PyDict_SetItem(merged, key, value) < 0) { PyErr_Clear(); Py_DECREF(merged); BAILV(p); }
        }
    }
    if (merged) Py_XSETREF(p->st.attrs[target], merged);
}

/* ---- element/text insertion --------------------------------------- */
static void reconstruct_formatting(P *p);

/* _foster_spot (html5.py:820-838; no templates/fragments in C):
 * before the last open table, in the table's parent */
static void foster_spot(P *p, int32_t *parent, int32_t *before) {
    *parent = cur(p);
    *before = -1;
    for (int k = p->stack_n - 1; k >= 0; k--) {
        if (p->st.type[p->stack[k]] == T_TEMPLATE) {
            /* last template LOWER than the last table wins: content
             * appends inside the template, no before-node */
            *parent = p->stack[k];
            return;
        }
        if (p->st.tid[p->stack[k]] == TID_TABLE) {
            int32_t tbl = p->stack[k];
            int32_t par = p->st.parent[tbl];
            if (par >= 0) { *parent = par; *before = tbl; }
            return;
        }
    }
}

/* _insert_target (html5.py:808-818): foster only while the CURRENT
 * node is table context */
static void insert_target(P *p, int32_t *parent, int32_t *before) {
    *parent = cur(p);
    *before = -1;
    if (p->foster) {
        int t = cur_tid(p);
        if (t == TID_TABLE || t == TID_TBODY || t == TID_TFOOT ||
            t == TID_THEAD || t == TID_TR)
            foster_spot(p, parent, before);
    }
}

/* _insert_element (html5.py:1065-1095); attrs BORROWED (token
 * dispatcher owns the token's attrs dict).
 * tagobj: borrowed unknown-tag name or NULL. */
static int32_t insert_element(P *p, int tid, PyObject *tagobj, PyObject *attrs,
                              int64_t t0, int64_t t1, int push) {
    Py_XINCREF(attrs);
    PyObject *towned = NULL;
    if (tid == TID_UNKNOWN && tagobj) { towned = tagobj; Py_INCREF(towned); }
    int32_t nid;
    if (push)
        nid = new_node(p, T_ELEMENT, tid, towned, NULL, attrs, t0, p->n, t0, t1, p->n, p->n);
    else
        nid = new_node(p, T_ELEMENT, tid, towned, NULL, attrs, t0, t1, t0, t1, t1, t1);
    if (nid < 0) return -1;
    if (tid == TID_P) p->open_p++;
    if (p->foster) {
        int32_t parent, before;
        insert_target(p, &parent, &before);
        attach_before(p, nid, parent, before);
        if (p->bail) return -1;
    } else {
        attach(p, nid, cur(p));
    }
    if (push) { push_node(p, nid, tid == TID_UNKNOWN ? tagobj : NULL); if (p->bail) return -1; }
    return nid;
}

/* _insert_text (html5.py:1009-1063); steals `decoded`. */
static void insert_text(P *p, PyObject *decoded, int64_t s0, int64_t s1,
                        int rawtextual, int reconstruct) {
    if (!decoded) BAILV(p);
    if (PyUnicode_GET_LENGTH(decoded) == 0) { Py_DECREF(decoded); return; }
    if (rawtextual && p->doc_has_nul) {
        Py_ssize_t L = PyUnicode_GET_LENGTH(decoded);
        if (PyUnicode_FindChar(decoded, 0, 0, L, 1) >= 0) {
            /* RAWTEXT/RCDATA/script-data/PLAINTEXT tokenizer states:
             * U+0000 is a parse error emitted as U+FFFD
             * (html5.py:1015-1020) */
            err(p, E_UNEXPECTED_NULL, s0);
            if (p->bail) { Py_DECREF(decoded); return; }
            PyObject *rep = PyUnicode_Replace(decoded, nul_str, fffd_str, -1);
            Py_DECREF(decoded);
            if (!rep) { PyErr_Clear(); BAILV(p); }
            decoded = rep;
        }
    }
    if (reconstruct && !rawtextual && p->afe_n && p->mode != M_IN_SELECT)
        reconstruct_formatting(p);
    if (p->bail) { Py_DECREF(decoded); return; }
    int32_t parent, before = -1;
    if (p->foster) insert_target(p, &parent, &before);
    else parent = cur(p);
    Store *st = &p->st;
    int32_t prev = before >= 0 ? prev_sibling(p, parent, before)
                               : st->last_child[parent];
    if (prev >= 0 && (st->type[prev] == T_TEXT || st->type[prev] == T_WHITESPACE)) {
        PyObject *merged = PyUnicode_Concat(st->text[prev] ? st->text[prev] : empty_str, decoded);
        Py_DECREF(decoded);
        if (!merged) BAILV(p);
        Py_XSETREF(st->text[prev], merged);
        st->span[6 * prev + 1] = s1;
        if (st->type[prev] == T_WHITESPACE) {
            /* upgrade when the appended run has any non-ws char */
            int ws = 1;
            Py_ssize_t L = PyUnicode_GET_LENGTH(merged);
            int kind = PyUnicode_KIND(merged);
            const void *data = PyUnicode_DATA(merged);
            for (Py_ssize_t q = 0; q < L; q++) {
                Py_UCS4 c = PyUnicode_READ(kind, data, q);
                if (!(c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r')) { ws = 0; break; }
            }
            if (!ws) st->type[prev] = T_TEXT;
        }
        return;
    }
    int ws = 0;
    if (!rawtextual) {
        ws = 1;
        Py_ssize_t L = PyUnicode_GET_LENGTH(decoded);
        int kind = PyUnicode_KIND(decoded);
        const void *data = PyUnicode_DATA(decoded);
        for (Py_ssize_t q = 0; q < L; q++) {
            Py_UCS4 c = PyUnicode_READ(kind, data, q);
            if (!(c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r')) { ws = 0; break; }
        }
    }
    if (!ws && !rawtextual) p->frameset_ok = 0;
    int32_t nid = new_node(p, ws ? T_WHITESPACE : T_TEXT, -1, NULL, decoded, NULL,
                           s0, s1, 0, 0, 0, 0);
    if (nid < 0) return;
    attach_before(p, nid, parent, before);
}

/* _reconstruct_formatting (html5.py:1097-1131); no foster in C */
static void reconstruct_formatting(P *p) {
    if (!p->afe_n) return;
    AfeEnt *last = &p->afe[p->afe_n - 1];
    if (last->tid == -1) return;
    if (nid_on_stack(p, last->nid) >= 0) return;
    int i = p->afe_n - 1;
    while (i > 0) {
        AfeEnt *prev = &p->afe[i - 1];
        if (prev->tid == -1 || nid_on_stack(p, prev->nid) >= 0) break;
        i--;
    }
    for (int k = i; k < p->afe_n; k++) {
        AfeEnt *e = &p->afe[k];
        PyObject *attrs = e->attrs;  /* SHARED with the original (html5.py:1122) */
        Py_XINCREF(attrs);
        int32_t nid = new_node(p, T_ELEMENT, e->tid, NULL, NULL, attrs,
                               e->t0, p->n, e->t0, e->t1, p->n, p->n);
        if (nid < 0) return;
        int32_t parent, before;
        insert_target(p, &parent, &before);
        attach_before(p, nid, parent, before);
        if (p->bail) return;
        push_node(p, nid, NULL);
        if (p->bail) return;
        e->nid = nid;
    }
}

/* _adoption_agency (html5.py:1172-1311): the FULL WHATWG algorithm —
 * 8-iteration outer loop, inner node-lifting loop with the >3
 * active-formatting ejection rule, foster-aware step 14.  Reparenting
 * breaks creation-order preorder → finalize takes the DFS path.
 * Returns 1 handled, 0 → any-other-end-tag. */
static void afe_remove_at(P *p, int k) {
    memmove(&p->afe[k], &p->afe[k + 1], (size_t)(p->afe_n - k - 1) * sizeof(AfeEnt));
    p->afe_n--;
}

static int adoption_agency(P *p, int tid, int64_t t0, int64_t t1) {
    Store *st = &p->st;
    /* step 1: current node is <name> (HTML ns) and not in AFE → pop */
    if (p->stack_n) {
        int32_t c = p->stack[p->stack_n - 1];
        if (st->tid[c] == tid) {
            int in_afe = 0;
            for (int k = 0; k < p->afe_n; k++)
                if (p->afe[k].tid != -1 && p->afe[k].nid == c) { in_afe = 1; break; }
            if (!in_afe) { pop_until(p, tid, NULL, t0, t0, t1); return 1; }
        }
    }
    for (int outer = 0; outer < 8; outer++) {
        int fe_idx = -1;
        for (int k = p->afe_n - 1; k >= 0; k--) {
            if (p->afe[k].tid == -1) break;
            if (p->afe[k].tid == tid) { fe_idx = k; break; }
        }
        if (fe_idx < 0) return 0;  /* act as any-other-end-tag */
        AfeEnt fe_ent = p->afe[fe_idx];  /* value copy (python `entry`) */
        int32_t fe = fe_ent.nid;
        if (nid_on_stack(p, fe) < 0) {
            err(p, E_ADOPTION_AGENCY, t0); CHKI(p);
            afe_remove_at(p, fe_idx);
            return 1;  /* stale entry: token ignored */
        }
        if (!node_in_scope(p, fe)) {
            err(p, E_ADOPTION_AGENCY, t0); CHKI(p);
            return 1;  /* token ignored */
        }
        if (p->stack[p->stack_n - 1] != fe) {
            err(p, E_ADOPTION_AGENCY, t0); CHKI(p);  /* continue anyway */
        }
        int si = nid_on_stack(p, fe);
        int fb_i = -1;
        for (int j = si + 1; j < p->stack_n; j++) {
            if (is_special_nid(p, p->stack[j])) { fb_i = j; break; }
        }
        if (fb_i < 0) {
            /* no furthest block: pop through FE, drop its entry */
            while (p->stack_n) {
                int32_t nid = p->stack[p->stack_n - 1];
                pop_node(p);
                if (nid == fe) { set_end_span(p, nid, t0, t1); break; }
                close_implied(p, nid, t0);
            }
            afe_remove_at(p, fe_idx);
            return 1;
        }
        int32_t fb = p->stack[fb_i];
        int32_t ca = si > 0 ? p->stack[si - 1] : 0;
        int bookmark = fe_idx;
        int32_t last_node = fb;
        int node_i = fb_i;
        int inner = 0;
        while (1) {
            inner++;
            node_i--;
            int32_t node = p->stack[node_i];
            if (node == fe) break;
            int nai = -1;
            for (int k = p->afe_n - 1; k >= 0; k--)
                if (p->afe[k].tid != -1 && p->afe[k].nid == node) { nai = k; break; }
            if (inner > 3 && nai >= 0) {
                afe_remove_at(p, nai);
                if (nai < bookmark) bookmark--;
                nai = -1;
            }
            if (nai < 0) {
                stack_remove_at(p, node_i);
                close_implied(p, node, t0);
                continue;
            }
            /* clone node; the clone replaces it in AFE and on the
             * stack (clone keeps the original token's tag span; the
             * clone NODE gets a COPY of the entry attrs, the AFE
             * entry keeps the ORIGINAL attrs object) */
            AfeEnt e2 = p->afe[nai];
            PyObject *cattrs = PyDict_Copy(e2.attrs ? e2.attrs : empty_attrs);
            if (!cattrs) { PyErr_Clear(); BAILI(p); }
            int32_t clone = new_node(p, T_ELEMENT, e2.tid, NULL, NULL, cattrs,
                                     e2.t0, p->n, e2.t0, e2.t1, p->n, p->n);
            if (clone < 0) return -1;
            p->afe[nai].nid = clone;
            Py_CLEAR(p->stack_name[node_i]);
            p->stack[node_i] = clone;
            close_implied(p, node, t0);
            if (last_node == fb) bookmark = nai + 1;
            detach(p, last_node);
            attach(p, last_node, clone);
            last_node = clone;
        }
        /* step 14: common ancestor adopts last_node; foster is keyed
         * on the OVERRIDE target (the common ancestor) */
        detach(p, last_node);
        {
            int cat = st->tid[ca];
            if (cat == TID_TABLE || cat == TID_TBODY || cat == TID_TFOOT ||
                cat == TID_THEAD || cat == TID_TR) {
                int32_t parent, before;
                foster_spot(p, &parent, &before);
                attach_before(p, last_node, parent, before);
                CHKI(p);
            } else {
                attach(p, last_node, ca);
            }
        }
        /* steps 15-17: clone FE around the furthest block's children */
        PyObject *c2attrs = PyDict_Copy(fe_ent.attrs ? fe_ent.attrs : empty_attrs);
        if (!c2attrs) { PyErr_Clear(); BAILI(p); }
        int32_t clone2 = new_node(p, T_ELEMENT, fe_ent.tid, NULL, NULL, c2attrs,
                                  fe_ent.t0, p->n, fe_ent.t0, fe_ent.t1, p->n, p->n);
        if (clone2 < 0) return -1;
        st->first_child[clone2] = st->first_child[fb];
        st->last_child[clone2] = st->last_child[fb];
        for (int32_t c = st->first_child[clone2]; c >= 0; c = st->next_sib[c])
            st->parent[c] = clone2;
        st->first_child[fb] = st->last_child[fb] = -1;
        attach(p, clone2, fb);
        /* step 18: AFE — remove FE's entry (find by node id; indexes
         * may have shifted), insert the clone's at the bookmark */
        {
            int cur_idx = -1;
            for (int k = 0; k < p->afe_n; k++)
                if (p->afe[k].tid != -1 && p->afe[k].nid == fe) { cur_idx = k; break; }
            if (cur_idx < 0) BAILI(p);  /* invariant */
            afe_remove_at(p, cur_idx);
            int ins = bookmark > p->afe_n ? p->afe_n : bookmark;
            if (!ensure_afe(p, p->afe_n + 1)) return -1;
            memmove(&p->afe[ins + 1], &p->afe[ins],
                    (size_t)(p->afe_n - ins) * sizeof(AfeEnt));
            p->afe[ins].tid = fe_ent.tid;
            p->afe[ins].attrs = fe_ent.attrs;
            p->afe[ins].t0 = fe_ent.t0;
            p->afe[ins].t1 = fe_ent.t1;
            p->afe[ins].nid = clone2;
            p->afe_n++;
        }
        /* step 19: stack — remove FE, insert clone below the block */
        {
            int sk = nid_on_stack(p, fe);
            if (sk < 0) BAILI(p);
            stack_remove_at(p, sk);
            set_end_span(p, fe, t0, t1);
            int fbk = nid_on_stack(p, fb);
            if (fbk < 0) BAILI(p);
            stack_insert_at(p, fbk + 1, clone2);
            CHKI(p);
        }
        p->preorder_ok = 0;  /* reparenting broke creation order */
    }
    return 1;
}

/* ---- implied structure (html5.py:962-1007) ------------------------ */
static void ensure_html(P *p, int64_t pos) {
    if (p->html_id >= 0) return;
    PyObject *attrs = empty_attrs; Py_INCREF(attrs);
    int32_t nid = new_node(p, T_ELEMENT, TID_HTML, NULL, NULL, attrs,
                           pos, p->n, pos, pos, p->n, p->n);
    if (nid < 0) return;
    attach(p, nid, 0);
    push_node(p, nid, NULL);
    p->html_id = nid;
    p->mode = M_BEFORE_HEAD;
}

static void ensure_head(P *p, int64_t pos) {
    ensure_html(p, pos); CHKV(p);
    if (p->head_id >= 0) return;
    PyObject *attrs = empty_attrs; Py_INCREF(attrs);
    int32_t nid = new_node(p, T_ELEMENT, TID_HEAD, NULL, NULL, attrs,
                           pos, pos, pos, pos, pos, pos);
    if (nid < 0) return;
    attach(p, nid, p->html_id);
    push_node(p, nid, NULL);
    p->head_id = nid;
    p->mode = M_IN_HEAD;
}

static void pop_head(P *p, int64_t pos, int64_t e0, int64_t e1) {
    if (p->stack_n && p->stack[p->stack_n - 1] == p->head_id) pop_node(p);
    if (p->head_id >= 0) {
        int64_t *sp = p->st.span + 6 * p->head_id;
        sp[1] = e1 < 0 ? pos : e1;
        if (e0 >= 0) { sp[4] = e0; sp[5] = e1; }
        else { sp[4] = sp[5] = pos; }
    }
    p->mode = M_AFTER_HEAD;
}

static void ensure_body(P *p, int64_t pos) {
    ensure_html(p, pos); CHKV(p);
    if (p->head_id < 0) { ensure_head(p, pos); CHKV(p); pop_head(p, pos, -1, -1); }
    else if (p->mode == M_IN_HEAD) pop_head(p, pos, -1, -1);
    if (p->body_id < 0) {
        PyObject *attrs = empty_attrs; Py_INCREF(attrs);
        int32_t nid = new_node(p, T_ELEMENT, TID_BODY, NULL, NULL, attrs,
                               pos, p->n, pos, pos, p->n, p->n);
        if (nid < 0) return;
        attach(p, nid, p->html_id);
        push_node(p, nid, NULL);
        p->body_id = nid;
    }
    p->mode = M_IN_BODY;
}

/* _reset_mode (html5.py:1434-1497) — no fragment / template / foreign
 * in the C subset */
static void reset_mode(P *p) {
    for (int k = p->stack_n - 1; k >= 0; k--) {
        if (p->st.ns[p->stack[k]] != NSP_HTML) continue;
        if (p->st.type[p->stack[k]] == T_TEMPLATE) {
            p->mode = p->tmpl_n ? p->tmpl_modes[p->tmpl_n - 1] : M_IN_TEMPLATE;
            return;
        }
        int t = p->st.tid[p->stack[k]];
        switch (t) {
        case TID_SELECT:   p->mode = M_IN_SELECT; return;
        case TID_TD: case TID_TH: p->mode = M_IN_CELL; return;
        case TID_CAPTION:  p->mode = M_IN_BODY; return;  /* in-caption ≈ in-body */
        case TID_TR:       p->mode = M_IN_ROW; return;
        case TID_TBODY: case TID_THEAD: case TID_TFOOT: p->mode = M_IN_TABLE_BODY; return;
        case TID_TABLE:    p->mode = M_IN_TABLE; return;
        case TID_FRAMESET: p->mode = M_IN_FRAMESET; return;
        case TID_COLGROUP: p->mode = M_IN_COLGROUP; return;
        case TID_HEAD:     p->mode = M_IN_HEAD; return;
        case TID_BODY:     p->mode = M_IN_BODY; return;
        case TID_HTML:
            p->mode = p->head_id < 0 ? M_BEFORE_HEAD : (p->body_id < 0 ? M_AFTER_HEAD : M_IN_BODY);
            return;
        default: break;
        }
    }
    p->mode = M_IN_BODY;
}

/* ---- "in table text" (html5.py:1591-1633) ------------------------- */
/* pending runs are raw source spans; a batch with ANY non-space char
 * foster-parents (a parse error) → bail */
static PyObject *decode_buf(P *p, const unsigned char *buf,
                            const Py_UCS4 *ubuf, Py_ssize_t m);
static PyObject *buf_slice(const unsigned char *buf, Py_ssize_t a, Py_ssize_t b);
static int has_ws_charref(const unsigned char *s, int64_t a, int64_t b);
static int ws_all_tokens(P *p, const unsigned char *s, int64_t a, int64_t b,
                         Py_ssize_t *outn);
static int mode_classifies_ws(int mode);

static void flush_tt(P *p) {
    int np = p->pend_n;
    p->pend_n = 0;
    /* round-7: a pended run can carry a ws-DECODING charref ("&#9;"),
     * which counts as whitespace in the all-space batch test (decoded
     * character-token classification, html5.py _ws_all); plain
     * batches keep the byte loops */
    int tokws = 0;
    for (int i = 0; i < np && !tokws; i++) {
        const unsigned char *bb;
        Py_ssize_t b0, b1;
        if (p->pend_txt[i]) {
            bb = (const unsigned char *)PyBytes_AS_STRING(p->pend_txt[i]);
            b0 = 0;
            b1 = PyBytes_GET_SIZE(p->pend_txt[i]);
        } else {
            bb = p->s;
            b0 = (Py_ssize_t)p->pend[i][0];
            b1 = (Py_ssize_t)p->pend[i][1];
        }
        if (memchr(bb + b0, '&', (size_t)(b1 - b0)) && has_ws_charref(bb, b0, b1))
            tokws = 1;
    }
    int allws = 1;
    for (int i = 0; i < np && allws; i++) {
        const unsigned char *bb;
        Py_ssize_t b0, b1;
        if (p->pend_txt[i]) {
            bb = (const unsigned char *)PyBytes_AS_STRING(p->pend_txt[i]);
            b0 = 0;
            b1 = PyBytes_GET_SIZE(p->pend_txt[i]);
        } else {
            bb = p->s;
            b0 = (Py_ssize_t)p->pend[i][0];
            b1 = (Py_ssize_t)p->pend[i][1];
        }
        if (tokws) {
            Py_ssize_t dn;
            if (scratch_ensure(p, b1 - b0) < 0) { p->bail = 1; goto cleanup; }
            allws = ws_all_tokens(p, bb, b0, b1, &dn);
        } else {
            for (Py_ssize_t q = b0; q < b1; q++)
                if (!WS_CHAR(bb[q])) { allws = 0; break; }
        }
    }
    if (allws) {
        for (int i = 0; i < np; i++) {
            PyObject *u;
            if (tokws) {
                const unsigned char *bb;
                Py_ssize_t b0, b1, dn;
                if (p->pend_txt[i]) {
                    bb = (const unsigned char *)PyBytes_AS_STRING(p->pend_txt[i]);
                    b0 = 0;
                    b1 = PyBytes_GET_SIZE(p->pend_txt[i]);
                } else {
                    bb = p->s;
                    b0 = (Py_ssize_t)p->pend[i][0];
                    b1 = (Py_ssize_t)p->pend[i][1];
                }
                if (scratch_ensure(p, b1 - b0) < 0) { p->bail = 1; goto cleanup; }
                ws_all_tokens(p, bb, b0, b1, &dn);
                u = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, p->scratch, dn);
            } else {
                u = p->pend_txt[i]
                    ? buf_slice((const unsigned char *)PyBytes_AS_STRING(p->pend_txt[i]),
                                0, PyBytes_GET_SIZE(p->pend_txt[i]))
                    : ascii_slice(p, p->pend[i][0], p->pend[i][1]);
            }
            Py_CLEAR(p->pend_txt[i]);
            Py_CLEAR(p->pend_ucs[i]);
            insert_text(p, u, p->pend[i][0], p->pend[i][1], 0, 0);
            if (p->bail) break;
        }
        goto cleanup;
    }
    /* ANY non-space char foster-parents EVERY run (parse error) */
    err(p, E_UNEXPECTED_CHARACTER, p->pend[0][0]);
    if (p->bail) goto cleanup;
    p->foster = 1;
    for (int i = 0; i < np; i++) {
        PyObject *u = p->pend_txt[i]
            ? decode_buf(p, (const unsigned char *)PyBytes_AS_STRING(p->pend_txt[i]),
                         p->pend_ucs[i]
                             ? (const Py_UCS4 *)PyBytes_AS_STRING(p->pend_ucs[i])
                             : NULL,
                         PyBytes_GET_SIZE(p->pend_txt[i]))
            : decode_text(p, p->pend[i][0], p->pend[i][1]);
        Py_CLEAR(p->pend_txt[i]);
        Py_CLEAR(p->pend_ucs[i]);
        insert_text(p, u, p->pend[i][0], p->pend[i][1], 0, 1);
        if (p->bail) break;
    }
    p->foster = 0;
cleanup:
    for (int i = 0; i < np; i++) { Py_CLEAR(p->pend_txt[i]); Py_CLEAR(p->pend_ucs[i]); }
}

/* ---- foreign-content dispatch (html5.py:933-959 _use_foreign) ----- */
enum { UF_CHARS, UF_START, UF_END, UF_COMMENT };

static int use_foreign(P *p, int kind, int start_tid, PyObject *start_name) {
    if (!p->stack_n) return 0;
    int32_t top = p->stack[p->stack_n - 1];
    int ns = p->st.ns[top];
    if (ns == NSP_HTML) return 0;
    if (ns == NSP_MATHML && is_mtext_ip(p, top)) {
        if (kind == UF_CHARS) return 0;
        if (kind == UF_START &&
            start_tid != TID_MGLYPH && start_tid != TID_MALIGNMARK) return 0;
    }
    if (ns == NSP_MATHML && p->st.tid[top] == TID_ANNOTATION_XML) {
        if (kind == UF_START && start_tid == TID_SVG) return 0;
        if ((kind == UF_CHARS || kind == UF_START) && attr_encoding_is_html(p, top))
            return 0;
    }
    if (ns == NSP_SVG && is_html_ip(p, top) && (kind == UF_CHARS || kind == UF_START))
        return 0;
    (void)start_name;
    return 1;
}

/* lowercased node name == token name (html5.py _foreign_end compares
 * ntag.lower(); names are ASCII — non-ASCII names bail at scan) */
static int node_name_lower_eq(P *p, int32_t nid, int tid, PyObject *name) {
    PyObject *nm = p->st.tag[nid];
    if (!nm) {
        int nt = p->st.tid[nid];
        if (nt < 0 || nt >= N_TAGS) return 0;
        if (tid != TID_UNKNOWN) return nt == tid;
        return PyUnicode_CompareWithASCIIString(name, TAG_STRS[nt]) == 0;
    }
    Py_ssize_t L = PyUnicode_GET_LENGTH(nm);
    int kind = PyUnicode_KIND(nm);
    const void *data = PyUnicode_DATA(nm);
    const char *tok = tid != TID_UNKNOWN ? TAG_STRS[tid] : NULL;
    if (tok) {
        Py_ssize_t q = 0;
        for (; q < L; q++) {
            Py_UCS4 c = PyUnicode_READ(kind, data, q);
            if (c >= 'A' && c <= 'Z') c += 32;
            if (tok[q] == '\0' || (Py_UCS4)(unsigned char)tok[q] != c) return 0;
        }
        return tok[q] == '\0';
    }
    Py_ssize_t L2 = PyUnicode_GET_LENGTH(name);
    if (L != L2) return 0;
    int k2 = PyUnicode_KIND(name);
    const void *d2 = PyUnicode_DATA(name);
    for (Py_ssize_t q = 0; q < L; q++) {
        Py_UCS4 c = PyUnicode_READ(kind, data, q);
        if (c >= 'A' && c <= 'Z') c += 32;
        if (c != PyUnicode_READ(k2, d2, q)) return 0;
    }
    return 1;
}

static int case_table_lookup(const char *const *lowers, int n_items,
                             const char *name, Py_ssize_t len) {
    /* strncmp stops at NUL — a name with an embedded NUL could
     * falsely prefix-match a table entry; no table name has one */
    if (memchr(name, 0, (size_t)len)) return -1;
    int lo = 0, hi = n_items - 1;
    while (lo <= hi) {
        int mid = (lo + hi) / 2;
        int c = strncmp(name, lowers[mid], (size_t)len);
        if (c == 0 && lowers[mid][len] != '\0') c = -1;
        if (c == 0) return mid;
        if (c < 0) hi = mid - 1; else lo = mid + 1;
    }
    return -1;
}

/* rebuild an attrs dict with SVG / MathML case-adjusted keys
 * (html5.py:1557-1564; always a FRESH dict when attrs non-empty) */
static PyObject *adjust_foreign_attrs(P *p, PyObject *attrs, int ns) {
    if (!attrs || PyDict_GET_SIZE(attrs) == 0) { Py_XINCREF(attrs); return attrs; }
    if (ns == NSP_MATHML && !PyDict_GetItemString(attrs, "definitionurl")) {
        Py_INCREF(attrs);
        return attrs;
    }
    PyObject *out = PyDict_New();
    if (!out) { PyErr_Clear(); p->bail = 1; return NULL; }
    PyObject *key, *value;
    Py_ssize_t it = 0;
    while (PyDict_Next(attrs, &it, &key, &value)) {
        PyObject *nk = key;
        Py_ssize_t kl;
        const char *ks = PyUnicode_AsUTF8AndSize(key, &kl);
        if (ks) {
            if (ns == NSP_SVG) {
                int hit = case_table_lookup(SVG_ATTR_CASE_LOWER, N_SVG_ATTR_CASE, ks, kl);
                if (hit >= 0) {
                    nk = PyUnicode_FromString(SVG_ATTR_CASE_PROPER[hit]);
                    if (!nk) { PyErr_Clear(); Py_DECREF(out); p->bail = 1; return NULL; }
                }
            } else if (ns == NSP_MATHML && kl == 13 && memcmp(ks, "definitionurl", 13) == 0) {
                nk = PyUnicode_FromString("definitionURL");
                if (!nk) { PyErr_Clear(); Py_DECREF(out); p->bail = 1; return NULL; }
            }
        } else PyErr_Clear();
        int rc = PyDict_SetItem(out, nk, value);
        if (nk != key) Py_DECREF(nk);
        if (rc < 0) { PyErr_Clear(); Py_DECREF(out); p->bail = 1; return NULL; }
    }
    return out;
}

static int handle_start(P *p, int tid, PyObject *name, PyObject *attrs,
                        int self_closing, int64_t t0, int64_t t1);
static void end_html(P *p, int tid, PyObject *name, int64_t t0, int64_t t1);
static void start_template(P *p, PyObject *attrs, int64_t t0, int64_t t1);
static void end_template(P *p, int64_t t0, int64_t t1);

/* _foreign_start (html5.py:1530-1566) */
static int foreign_start(P *p, int tid, PyObject *name, PyObject *attrs,
                         int self_closing, int64_t t0, int64_t t1) {
    p->skip_newline = 0;
    unsigned int fl = tflags(tid);
    int breakout = (fl & F_FOREIGN_BREAKOUT) != 0;
    if (!breakout && tid == TID_FONT && attrs &&
        (PyDict_GetItemString(attrs, "color") || PyDict_GetItemString(attrs, "face") ||
         PyDict_GetItemString(attrs, "size")))
        breakout = 1;
    if (breakout) {
        err(p, E_HTML_IN_FOREIGN_CONTENT, t0); CHKI(p);
        while (p->stack_n) {
            int32_t nid = p->stack[p->stack_n - 1];
            if (p->st.ns[nid] == NSP_HTML || is_mtext_ip(p, nid) || is_html_ip(p, nid))
                break;
            pop_node(p);
            close_implied(p, nid, t0);
        }
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    int ns = p->st.ns[p->stack[p->stack_n - 1]];
    PyObject *use_name = name;       /* borrowed or new */
    PyObject *owned_name = NULL;
    int use_tid = tid;
    PyObject *use_attrs = NULL;      /* owned */
    if (ns == NSP_SVG) {
        /* tag-name case adjustment: the camel form is NOT in the tag
         * vocabulary, so adjusted tags get TID_UNKNOWN + the camel
         * display name (matches html5.py TAG_IDS.get semantics) */
        const char *lname = NULL;
        char buf[64];
        if (tid != TID_UNKNOWN) lname = TAG_STRS[tid];
        else if (name && PyUnicode_GET_LENGTH(name) < 63 && PyUnicode_IS_ASCII(name)) {
            Py_ssize_t L = PyUnicode_GET_LENGTH(name);
            memcpy(buf, PyUnicode_1BYTE_DATA(name), (size_t)L);
            buf[L] = '\0';
            lname = buf;
        }
        if (lname) {
            int hit = case_table_lookup(SVG_TAG_CASE_LOWER, N_SVG_TAG_CASE,
                                        lname, (Py_ssize_t)strlen(lname));
            if (hit >= 0) {
                /* the camel display name; the tid stays the LOWERCASE
                 * lookup (tags.py aliases camel forms to the same id
                 * where the lowercase name is in the vocabulary) */
                owned_name = PyUnicode_InternFromString(SVG_TAG_CASE_PROPER[hit]);
                if (!owned_name) { PyErr_Clear(); BAILI(p); }
                use_name = owned_name;
            }
        }
        use_attrs = adjust_foreign_attrs(p, attrs, NSP_SVG);
        if (p->bail) { Py_XDECREF(owned_name); return -1; }
    } else if (ns == NSP_MATHML) {
        use_attrs = adjust_foreign_attrs(p, attrs, NSP_MATHML);
        if (p->bail) return -1;
    } else {
        Py_XINCREF(attrs);
        use_attrs = attrs;
    }
    int32_t nid = insert_element(p, use_tid, use_name, use_attrs, t0, t1,
                                 !self_closing);
    Py_XDECREF(use_attrs);
    if (p->bail) { Py_XDECREF(owned_name); return -1; }
    if (nid >= 0) {
        p->st.ns[nid] = (int8_t)ns;
        if (owned_name && !p->st.tag[nid]) {
            /* camel display name for a known-tid tag (foreignObject) */
            Py_INCREF(owned_name);
            p->st.tag[nid] = owned_name;
        }
    }
    Py_XDECREF(owned_name);
    return CM_NONE;
}

/* _foreign_end (html5.py:1568-1589) */
static void foreign_end(P *p, int tid, PyObject *name, int64_t t0, int64_t t1) {
    p->skip_newline = 0;
    if (p->stack_n &&
        !node_name_lower_eq(p, p->stack[p->stack_n - 1], tid, name)) {
        err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
    }
    int i = p->stack_n - 1;
    while (i > 0) {
        int32_t nid = p->stack[i];
        if (node_name_lower_eq(p, nid, tid, name)) {
            while (p->stack_n > i) {
                int32_t popped = p->stack[p->stack_n - 1];
                pop_node(p);
                if (popped == nid) set_end_span(p, popped, t0, t1);
                else close_implied(p, popped, t0);
            }
            return;
        }
        i--;
        if (p->st.ns[p->stack[i]] == NSP_HTML) {
            end_html(p, tid, name, t0, t1);
            return;
        }
    }
}

/* _foreign_chars (html5.py:1524-1528): foreign-content U+0000 is a
 * parse error emitted as U+FFFD (replacement pre-decode == post-
 * decode: no entity produces a literal NUL; &#0; yields U+FFFD) */
static void foreign_chars(P *p, int64_t a, int64_t b) {
    if (p->doc_has_nul && memchr(p->s + a, 0, (size_t)(b - a))) {
        err(p, E_UNEXPECTED_NULL, a); CHKV(p);
        PyObject *d = decode_text(p, a, b);
        if (!d) BAILV(p);
        PyObject *rep = PyUnicode_Replace(d, nul_str, fffd_str, -1);
        Py_DECREF(d);
        if (!rep) { PyErr_Clear(); BAILV(p); }
        insert_text(p, rep, a, b, 0, 0);
        return;
    }
    insert_text(p, decode_text(p, a, b), a, b, 0, 0);
}

/* ---- character tokens (html5.py:1634-1718 _chars_html) ------------ */
static void chars_html(P *p, int64_t a, int64_t b);

static void handle_chars_span(P *p, int64_t a, int64_t b) { chars_html(p, a, b); }

static void chars_in_table(P *p, int64_t a, int64_t b) {
    int t = cur_tid(p);
    if (t == TID_TABLE || t == TID_TBODY || t == TID_TFOOT || t == TID_THEAD || t == TID_TR) {
        if (!ensure_pend(p, p->pend_n + 1)) return;
        p->pend[p->pend_n][0] = a;
        p->pend[p->pend_n][1] = b;
        p->pend_txt[p->pend_n] = NULL;
        p->pend_ucs[p->pend_n] = NULL;
        p->pend_n++;
        return;
    }
    int tokws = memchr(p->s + a, '&', (size_t)(b - a)) &&
                has_ws_charref(p->s, a, b);
    int allws = 1;
    Py_ssize_t dn = 0;
    if (tokws) {
        if (scratch_ensure(p, b - a) < 0) BAILV(p);
        allws = ws_all_tokens(p, p->s, a, b, &dn);
    } else {
        for (int64_t q = a; q < b; q++) if (!WS_CHAR(p->s[q])) { allws = 0; break; }
    }
    if (allws)
        insert_text(p,
                    tokws ? PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND,
                                                      p->scratch, dn)
                          : ascii_slice(p, a, b),
                    a, b, 0, 1);
    else insert_text(p, decode_text(p, a, b), a, b, 0, 1);
}

/* decode entities from an arbitrary byte buffer (round-6 NUL path:
 * the compacted run copy).  ``ubuf`` (round-7) carries the original
 * codepoints of a TRANSCODED doc's compacted run — placeholder bytes
 * in ``buf`` keep the structure scannable (refs are pure ASCII, and a
 * placeholder terminates a ref match exactly like the non-ASCII char
 * it stands for), emitted chars read from ``ubuf``.  NULL ubuf =
 * byte == codepoint (ASCII input). */
static PyObject *decode_buf(P *p, const unsigned char *buf,
                            const Py_UCS4 *ubuf, Py_ssize_t m) {
    const unsigned char *amp = memchr(buf, '&', (size_t)m);
    if (!amp) {
        if (ubuf) return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, ubuf, m);
        return PyUnicode_FromKindAndData(PyUnicode_1BYTE_KIND, buf, m);
    }
    if (scratch_ensure(p, m) < 0) return NULL;
    Py_UCS4 *out = p->scratch;
    Py_ssize_t k = 0;
    for (Py_ssize_t i = 0; i < m; ) {
        if (buf[i] == '&') {
            Py_ssize_t used = unescape_ref(p, buf, ubuf, 0, i, m, out, &k);
            if (used) { i += used; continue; }
        }
        out[k++] = ubuf ? ubuf[i] : buf[i];
        i++;
    }
    return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, out, k);
}

static PyObject *buf_slice(const unsigned char *buf, Py_ssize_t a, Py_ssize_t b) {
    return PyUnicode_FromKindAndData(PyUnicode_1BYTE_KIND, buf + a, b - a);
}

/* _chars_html over a NUL-compacted run copy (html5.py:1643-1725):
 * all within-run logic operates on the STRIPPED content; spans are
 * start-based with stripped lengths — matching the reference quirk
 * that dropped NULs shrink the span end.  ``ubuf`` (round-7): the
 * compacted ORIGINAL codepoints of a transcoded doc's run (NULL in
 * byte==codepoint mode); ws/structure checks stay on the placeholder
 * bytes (ws is ASCII, a placeholder is never ws), emitted text reads
 * through decode_buf's ubuf leg.  Table modes bail in transcoded mode
 * (their pending-text machinery stores compacted BYTES); the colgroup
 * non-ws re-dispatch bails in every mode. */
static void chars_buf(P *p, const unsigned char *buf, const Py_UCS4 *ubuf,
                      Py_ssize_t m, int64_t start) {
    int64_t end = start + m;
    int mode = p->mode;
    /* a NUL-stripped run that ALSO carries a ws-decoding charref in a
     * classifying mode stays Python-side (rare intersection; the
     * stripped-copy offsets make the token spans subtle) */
    if (mode_classifies_ws(mode) && memchr(buf, '&', (size_t)m) &&
        has_ws_charref(buf, 0, m))
        BAILV(p);
    if (mode == M_IN_BODY || mode == M_IN_CELL || mode == M_IN_TEMPLATE) {
        insert_text(p, decode_buf(p, buf, ubuf, m), start, end, 0, 1);
        return;
    }
    if (mode == M_INITIAL || mode == M_BEFORE_HTML || mode == M_BEFORE_HEAD) {
        Py_ssize_t k = 0;
        while (k < m && WS_CHAR(buf[k])) k++;
        if (k == m) return;
        ensure_body(p, start + k); CHKV(p);
        insert_text(p, decode_buf(p, buf + k, ubuf ? ubuf + k : NULL, m - k),
                    start + k, end, 0, 1);
        return;
    }
    if (mode == M_IN_HEAD || mode == M_AFTER_HEAD) {
        Py_ssize_t k = 0;
        while (k < m && WS_CHAR(buf[k])) k++;
        if (k > 0) { insert_text(p, buf_slice(buf, 0, k), start, start + k, 0, 1); CHKV(p); }
        if (k < m) {
            if (mode == M_IN_HEAD && cur_tid(p) == TID_NOSCRIPT) {
                err(p, E_UNEXPECTED_CHARACTER, start + k); CHKV(p);
                int32_t nsid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nsid, start + k);
            }
            ensure_body(p, start + k); CHKV(p);
            insert_text(p, decode_buf(p, buf + k, ubuf ? ubuf + k : NULL, m - k),
                        start + k, end, 0, 1);
        }
        return;
    }
    if (mode == M_IN_TABLE || mode == M_IN_TABLE_BODY || mode == M_IN_ROW) {
        /* mirror chars_in_table over the stripped run: the pending
         * entry carries the compacted bytes (html5.py pends the
         * already-stripped raw string; span end = stripped length);
         * transcoded docs additionally pend the stripped original
         * codepoints (round-7) so flush_tt can decode them. */
        int t = cur_tid(p);
        if (t == TID_TABLE || t == TID_TBODY || t == TID_TFOOT || t == TID_THEAD || t == TID_TR) {
            if (!ensure_pend(p, p->pend_n + 1)) return;
            PyObject *bb = PyBytes_FromStringAndSize((const char *)buf, m);
            if (!bb) { PyErr_Clear(); BAILV(p); }
            PyObject *uu = NULL;
            if (ubuf) {
                uu = PyBytes_FromStringAndSize((const char *)ubuf,
                                               m * (Py_ssize_t)sizeof(Py_UCS4));
                if (!uu) { Py_DECREF(bb); PyErr_Clear(); BAILV(p); }
            }
            p->pend[p->pend_n][0] = start;
            p->pend[p->pend_n][1] = end;
            p->pend_txt[p->pend_n] = bb;
            p->pend_ucs[p->pend_n] = uu;
            p->pend_n++;
            return;
        }
        int aw = 1;
        for (Py_ssize_t q = 0; q < m; q++) if (!WS_CHAR(buf[q])) { aw = 0; break; }
        if (aw) insert_text(p, buf_slice(buf, 0, m), start, end, 0, 1);
        else insert_text(p, decode_buf(p, buf, ubuf, m), start, end, 0, 1);
        return;
    }
    if (mode == M_IN_SELECT) {
        insert_text(p, decode_buf(p, buf, ubuf, m), start, end, 0, 0);
        return;
    }
    if (mode == M_IN_COLGROUP) {
        Py_ssize_t k = 0;
        while (k < m && WS_CHAR(buf[k])) k++;
        if (k > 0) { insert_text(p, buf_slice(buf, 0, k), start, start + k, 0, 0); CHKV(p); }
        if (k < m) {
            if (cur_tid(p) == TID_COLGROUP) BAILV(p);  /* re-dispatch lands in-table */
            err(p, E_UNEXPECTED_CHARACTER, start + k);  /* ignored (fragment case) */
        }
        return;
    }
    if (mode == M_IN_FRAMESET || mode == M_AFTER_FRAMESET) {
        Py_ssize_t nws = 0;
        for (Py_ssize_t q = 0; q < m; q++) if (WS_CHAR(buf[q])) nws++;
        if (nws != m) { err(p, E_TEXT_IN_FRAMESET, start); CHKV(p); }
        if (nws) {
            PyObject *u = PyUnicode_New(nws, 127);
            if (!u) BAILV(p);
            Py_UCS1 *dst = PyUnicode_1BYTE_DATA(u);
            for (Py_ssize_t q = 0; q < m; q++)
                if (WS_CHAR(buf[q])) *dst++ = buf[q];
            insert_text(p, u, start, start + nws, 0, 0);
        }
        return;
    }
    if (mode == M_AFTER_BODY || mode == M_AFTER_AFTER_BODY) {
        int allws = 1;
        for (Py_ssize_t q = 0; q < m; q++)
            if (!WS_CHAR(buf[q])) { allws = 0; break; }
        if (!allws) {
            err(p, E_UNEXPECTED_CHARACTER, start); CHKV(p);
            p->mode = M_IN_BODY;  /* body reopens (parse error) */
        }
        insert_text(p, decode_buf(p, buf, ubuf, m), start, end, 0, 1);
        return;
    }
    insert_text(p, decode_buf(p, buf, ubuf, m), start, end, 0, 1);
}

/* does the run contain a character reference decoding to a WHITESPACE
 * character?  Tree construction classifies the DECODED token (round-6
 * Python rule: "&#13;" IS a whitespace token — reference-produced CR
 * bypasses stream normalization), and the C legs classify source
 * bytes, so such runs bail to the Python engine wherever a mode rule
 * asks "is this whitespace?" (everywhere except the insert-all modes
 * in body/cell/template/select, handled at the call site). */
static int has_ws_charref(const unsigned char *s, int64_t a, int64_t b) {
    const unsigned char *q = s + a;
    int64_t n = b - a;
    for (;;) {
        const unsigned char *amp = memchr(q, '&', (size_t)(n - (q - (s + a))));
        if (!amp) return 0;
        int64_t i = amp - s;
        int64_t j = i + 1;
        if (j < b && s[j] == '#') {
            int64_t d = j + 1;
            long num = 0;
            int hex = 0, any = 0, ovf = 0;
            if (d < b && (s[d] == 'x' || s[d] == 'X')) { hex = 1; d++; }
            while (d < b) {
                unsigned char c = s[d];
                int v;
                if (c >= '0' && c <= '9') v = c - '0';
                else if (hex && ((c | 32) >= 'a' && (c | 32) <= 'f')) v = (c | 32) - 'a' + 10;
                else break;
                any = 1;
                if (!ovf) {
                    num = num * (hex ? 16 : 10) + v;
                    if (num > 0x110000) ovf = 1;
                }
                d++;
            }
            if (any && !ovf &&
                (num == 9 || num == 10 || num == 12 || num == 13 || num == 32))
                return 1;
        } else if (j < b && (s[j] == 'T' || s[j] == 'N')) {
            if (b - j >= 4 && memcmp(s + j, "Tab;", 4) == 0) return 1;
            if (b - j >= 8 && memcmp(s + j, "NewLine;", 8) == 0) return 1;
        }
        q = amp + 1;
        if (q >= s + b) return 0;
    }
}

/* ---- decoded whitespace-token scanning (round-7; html5.py:419-470)
 * Tree construction classifies the DECODED character token: "&#13;" /
 * "&Tab;" ARE whitespace tokens wherever a mode rule asks "is this
 * whitespace?" (reference-produced CR bypasses stream normalization).
 * Until round 7 such runs bailed to Python (has_ws_charref); now the
 * classifying sites scan ws TOKENS when a run contains a ws charref
 * (cold path — the byte loops stay for plain runs). */

/* one ws token at s[i..b): returns consumed SOURCE length (0 = not a
 * ws token) and the decoded char.  Mirrors _ws_scan's per-token step:
 * literal ws; &#dec;? / &#xhex;? decoding to ws (huge values -> not
 * ws, like Python's chr() ValueError); &Tab; / &NewLine; (semicolon
 * REQUIRED for the named forms). */
static Py_ssize_t ws_token_at(const unsigned char *s, int64_t i, int64_t b,
                              Py_UCS4 *cp) {
    unsigned char c = s[i];
    if (WS_CHAR(c)) { *cp = c; return 1; }
    if (c != '&' || i + 1 >= b) return 0;
    if (s[i + 1] == '#') {
        int64_t d = i + 2;
        int hex = 0, any = 0, ovf = 0;
        long long v = 0;
        if (d < b && (s[d] == 'x' || s[d] == 'X')) { hex = 1; d++; }
        while (d < b) {
            unsigned char cc = s[d];
            int dv;
            if (cc >= '0' && cc <= '9') dv = cc - '0';
            else if (hex && ((cc | 32) >= 'a' && (cc | 32) <= 'f')) dv = (cc | 32) - 'a' + 10;
            else break;
            any = 1;
            if (!ovf) { v = v * (hex ? 16 : 10) + dv; if (v > 0x110000) ovf = 1; }
            d++;
        }
        if (!any || ovf) return 0;
        if (!(v == '\t' || v == '\n' || v == '\f' || v == '\r' || v == ' ')) return 0;
        if (d < b && s[d] == ';') d++;
        *cp = (Py_UCS4)v;
        return (Py_ssize_t)(d - i);
    }
    if (b - i >= 5 && memcmp(s + i, "&Tab;", 5) == 0) { *cp = '\t'; return 5; }
    if (b - i >= 9 && memcmp(s + i, "&NewLine;", 9) == 0) { *cp = '\n'; return 9; }
    return 0;
}

/* leading ws-token run of [a, b): source length consumed; decoded
 * chars appended to p->scratch (caller must scratch_ensure(b - a));
 * *outn = decoded length.  Mirrors _ws_prefix / _ws_scan-from-0. */
static int64_t ws_prefix_tokens(P *p, const unsigned char *s, int64_t a,
                                int64_t b, Py_ssize_t *outn) {
    int64_t k = a;
    Py_ssize_t m = 0;
    Py_UCS4 cpv;
    Py_ssize_t adv;
    while (k < b && (adv = ws_token_at(s, k, b, &cpv)) > 0) {
        p->scratch[m++] = cpv;
        k += adv;
    }
    *outn = m;
    return k;
}

/* is EVERY character token in [a, b) whitespace?  (html5.py _ws_all) */
static int ws_all_tokens(P *p, const unsigned char *s, int64_t a, int64_t b,
                         Py_ssize_t *outn) {
    int64_t k = ws_prefix_tokens(p, s, a, b, outn);
    return k == b;
}

/* ws-charref runs only diverge where the mode CLASSIFIES whitespace */
static int mode_classifies_ws(int mode) {
    return !(mode == M_IN_BODY || mode == M_IN_CELL ||
             mode == M_IN_TEMPLATE || mode == M_IN_SELECT);
}

static void chars_html(P *p, int64_t a, int64_t b) {
    /* round-7: runs with ws-DECODING charrefs no longer bail — the
     * classifying sites below scan decoded ws TOKENS instead (the
     * byte loops remain the hot path for plain runs) */
    int tokws = mode_classifies_ws(p->mode) &&
                memchr(p->s + a, '&', (size_t)(b - a)) &&
                has_ws_charref(p->s, a, b);
    if (tokws && scratch_ensure(p, b - a) < 0) BAILV(p);
    if (p->doc_has_nul && memchr(p->s + a, 0, (size_t)(b - a))) {
        int m0 = p->mode;
        /* round-6: colgroup/frameset NUL interactions stay Python */
        if (m0 == M_IN_COLGROUP || m0 == M_IN_FRAMESET || m0 == M_AFTER_FRAMESET)
            BAILV(p);
        if (m0 == M_INITIAL || m0 == M_BEFORE_HTML || m0 == M_BEFORE_HEAD ||
            m0 == M_IN_HEAD || m0 == M_AFTER_HEAD ||
            m0 == M_AFTER_BODY || m0 == M_AFTER_AFTER_BODY) {
            /* round-6 (html5.py _chars_html pre-body NUL branch): a
             * U+0000 token is "anything else" in these modes — the
             * prefix processes in the current mode, the NUL forces
             * the body scaffolding (or the after-body mode switch)
             * and disarms a pending newline skip, then the NUL-free
             * remainder reprocesses (in body, where NULs drop) */
            const unsigned char *nul = memchr(p->s + a, 0, (size_t)(b - a));
            int64_t i = (int64_t)(nul - p->s);
            if (i > a) { chars_html(p, a, i); CHKV(p); }
            err(p, E_UNEXPECTED_CHARACTER, i); CHKV(p);
            if (m0 == M_AFTER_BODY || m0 == M_AFTER_AFTER_BODY) {
                p->mode = M_IN_BODY;
            } else {
                ensure_body(p, i); CHKV(p);
            }
            p->skip_newline = 0;
            if (i + 1 < b) {
                unsigned char *tmp = malloc((size_t)(b - i - 1));
                if (!tmp) BAILV(p);
                Py_UCS4 *tmp_u = NULL;
                if (p->src_data) {  /* transcoded: carry real codepoints */
                    tmp_u = malloc((size_t)(b - i - 1) * sizeof(Py_UCS4));
                    if (!tmp_u) { free(tmp); BAILV(p); }
                }
                Py_ssize_t m = 0;
                for (int64_t q = i + 1; q < b; q++)
                    if (p->s[q]) {
                        if (tmp_u) tmp_u[m] = rd(p, q);
                        tmp[m++] = p->s[q];
                    }
                if (m) chars_buf(p, tmp, tmp_u, m, i + 1);
                free(tmp);
                free(tmp_u);
            }
            return;
        }
        /* WHATWG in-body: U+0000 character tokens are parse errors
         * and are DROPPED (html5.py:1644-1650); the remaining run is
         * reprocessed with stripped-length spans */
        err(p, E_UNEXPECTED_CHARACTER, a); CHKV(p);
        unsigned char *tmp = malloc((size_t)(b - a));
        if (!tmp) BAILV(p);
        Py_UCS4 *tmp_u = NULL;
        if (p->src_data) {  /* transcoded: carry real codepoints */
            tmp_u = malloc((size_t)(b - a) * sizeof(Py_UCS4));
            if (!tmp_u) { free(tmp); BAILV(p); }
        }
        Py_ssize_t m = 0;
        for (int64_t q = a; q < b; q++)
            if (p->s[q]) {
                if (tmp_u) tmp_u[m] = rd(p, q);
                tmp[m++] = p->s[q];
            }
        int64_t start = a;
        if (p->s[a] == 0) p->skip_newline = 0;  /* leading NUL intervenes */
        if (m == 0) { free(tmp); free(tmp_u); return; }  /* skip_newline handled above */
        if (p->skip_newline) {
            p->skip_newline = 0;
            if (tmp[0] == '\n') {
                memmove(tmp, tmp + 1, (size_t)(m - 1));
                if (tmp_u) memmove(tmp_u, tmp_u + 1, (size_t)(m - 1) * sizeof(Py_UCS4));
                m--; start++;
                if (m == 0) { free(tmp); free(tmp_u); return; }
            }
        }
        chars_buf(p, tmp, tmp_u, m, start);
        free(tmp);
        free(tmp_u);
        return;
    }
    if (p->skip_newline) {
        p->skip_newline = 0;
        if (a < b && p->s[a] == '\n') { a++; if (a == b) return; }
    }
    int mode = p->mode;
    if (mode == M_IN_BODY || mode == M_IN_CELL || mode == M_IN_TEMPLATE) {
        /* in-template characters use the in-body rules */
        insert_text(p, decode_text(p, a, b), a, b, 0, 1);
        return;
    }
    if (mode == M_INITIAL || mode == M_BEFORE_HTML || mode == M_BEFORE_HEAD) {
        int64_t k;
        Py_ssize_t dn;
        if (tokws) k = ws_prefix_tokens(p, p->s, a, b, &dn);
        else { k = a; while (k < b && WS_CHAR(p->s[k])) k++; }
        if (k == b) return;  /* all-whitespace tokens: ignored */
        ensure_body(p, k); CHKV(p);
        insert_text(p, decode_text(p, k, b), k, b, 0, 1);
        return;
    }
    if (mode == M_IN_HEAD || mode == M_AFTER_HEAD) {
        int64_t k;
        Py_ssize_t dn = 0;
        if (tokws) k = ws_prefix_tokens(p, p->s, a, b, &dn);
        else { k = a; while (k < b && WS_CHAR(p->s[k])) k++; }
        if (k > a) {
            PyObject *w = tokws
                ? PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, p->scratch, dn)
                : ascii_slice(p, a, k);
            insert_text(p, w, a, k, 0, 1); CHKV(p);
        }
        if (k < b) {
            if (mode == M_IN_HEAD && cur_tid(p) == TID_NOSCRIPT) {
                /* in-head-noscript anything-else: pop the noscript */
                err(p, E_UNEXPECTED_CHARACTER, k); CHKV(p);
                int32_t nsid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nsid, k);
            }
            ensure_body(p, k); CHKV(p);
            insert_text(p, decode_text(p, k, b), k, b, 0, 1);
        }
        return;
    }
    if (mode == M_IN_TABLE || mode == M_IN_TABLE_BODY || mode == M_IN_ROW) {
        chars_in_table(p, a, b);
        return;
    }
    if (mode == M_IN_SELECT) {
        insert_text(p, decode_text(p, a, b), a, b, 0, 0);
        return;
    }
    if (mode == M_IN_COLGROUP) {
        int64_t k;
        Py_ssize_t dn = 0;
        if (tokws) k = ws_prefix_tokens(p, p->s, a, b, &dn);
        else { k = a; while (k < b && WS_CHAR(p->s[k])) k++; }
        if (k > a) {
            PyObject *w = tokws
                ? PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, p->scratch, dn)
                : ascii_slice(p, a, k);
            insert_text(p, w, a, k, 0, 0); CHKV(p);
        }
        if (k < b) {
            if (cur_tid(p) == TID_COLGROUP) {
                int32_t nid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nid, k);
                p->mode = M_IN_TABLE;
                handle_chars_span(p, k, b);
            } else err(p, E_UNEXPECTED_CHARACTER, k);  /* ignored */
        }
        return;
    }
    if (mode == M_IN_FRAMESET || mode == M_AFTER_FRAMESET) {
        /* keep only the whitespace TOKENS (joined into ONE run,
         * decoded); any dropped char is a parse error.  The recorded
         * span is the SOURCE extent first..last kept token (html5.py
         * r7: start + decoded length under-covered reference-produced
         * ws).  Plain runs have no ws charrefs, so the token scan
         * degenerates to the byte scan. */
        Py_ssize_t nws = 0;
        int64_t first = -1, last = -1;
        int all = 1;
        if (!tokws && scratch_ensure(p, b - a) < 0) BAILV(p);
        int64_t q = a;
        while (q < b) {
            Py_UCS4 cpv;
            Py_ssize_t adv = ws_token_at(p->s, q, b, &cpv);
            if (adv) {
                if (first < 0) first = q;
                p->scratch[nws++] = cpv;
                q += adv;
                last = q;
            } else {
                all = 0;
                q++;
            }
        }
        if (!all) { err(p, E_TEXT_IN_FRAMESET, a); CHKV(p); }
        if (nws) {
            PyObject *u = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND,
                                                    p->scratch, nws);
            insert_text(p, u, first, last, 0, 0);
        }
        return;
    }
    if (mode == M_AFTER_BODY || mode == M_AFTER_AFTER_BODY) {
        int allws = 1;
        if (tokws) {
            Py_ssize_t dn;
            allws = ws_all_tokens(p, p->s, a, b, &dn);
        } else {
            for (int64_t q = a; q < b; q++)
                if (!WS_CHAR(p->s[q])) { allws = 0; break; }
        }
        if (!allws) {
            err(p, E_UNEXPECTED_CHARACTER, a); CHKV(p);
            p->mode = M_IN_BODY;  /* body reopens (parse error) */
        }
        insert_text(p, decode_text(p, a, b), a, b, 0, 1);
        return;
    }
    insert_text(p, decode_text(p, a, b), a, b, 0, 1);
}

/* ---- comments / doctype (html5.py:2890-2942) ---------------------- */
static PyObject *comment_slice(P *p, Py_ssize_t a, Py_ssize_t b) {
    PyObject *u = ascii_slice(p, a, b);
    if (!u || !p->doc_has_nul) return u;
    if (PyUnicode_FindChar(u, 0, 0, PyUnicode_GET_LENGTH(u), 1) < 0) return u;
    PyObject *rep = PyUnicode_Replace(u, nul_str, fffd_str, -1);
    Py_DECREF(u);
    if (!rep) PyErr_Clear();
    return rep;
}

static void handle_comment(P *p, int64_t a, int64_t b, int64_t t0, int64_t t1) {
    if (p->pend_n) { flush_tt(p); CHKV(p); }
    p->skip_newline = 0;
    if (p->doc_has_nul && b > a && memchr(p->s + a, 0, (size_t)(b - a))) {
        /* comment/bogus-comment states: U+0000 is a parse error
         * emitted as U+FFFD (html5.py:2903-2907) */
        err(p, E_UNEXPECTED_NULL, t0); CHKV(p);
    }
    if (p->has_foreign && p->stack_n && use_foreign(p, UF_COMMENT, -1, NULL)) {
        PyObject *txt = comment_slice(p, a, b);
        int32_t nid = new_node(p, T_COMMENT, -1, NULL, txt, NULL, t0, t1, 0, 0, 0, 0);
        if (nid < 0) return;
        attach(p, nid, cur(p));
        return;
    }
    if (p->mode == M_INITIAL || p->mode == M_BEFORE_HTML ||
        p->mode == M_AFTER_AFTER_BODY) {
        /* document-level comment; after <html> exists, later tokens
         * can reopen body content → DFS finalize (html5.py:2910-2918) */
        PyObject *txt = comment_slice(p, a, b);
        int32_t nid = new_node(p, T_COMMENT, -1, NULL, txt, NULL, t0, t1, 0, 0, 0, 0);
        if (nid < 0) return;
        attach(p, nid, 0);
        if (p->html_id >= 0) p->preorder_ok = 0;
        return;
    }
    if (p->mode == M_AFTER_BODY && p->html_id >= 0) {
        PyObject *txt = comment_slice(p, a, b);
        int32_t nid = new_node(p, T_COMMENT, -1, NULL, txt, NULL, t0, t1, 0, 0, 0, 0);
        if (nid < 0) return;
        attach(p, nid, p->html_id);
        p->preorder_ok = 0;  /* body content may reopen after */
        return;
    }
    PyObject *txt = comment_slice(p, a, b);
    int32_t nid = new_node(p, T_COMMENT, -1, NULL, txt, NULL, t0, t1, 0, 0, 0, 0);
    if (nid < 0) return;
    attach(p, nid, cur(p));
}

/* _doctype_quirks (html5.py:519-591): WHATWG 13.2.5 doctype states +
 * the 13.2.6.4.1 public-id table (code-generated).  Operates on the
 * body span between '<!doctype' and '>' — ASCII guaranteed. */
static int ci_span_eq(const unsigned char *s, Py_ssize_t a, Py_ssize_t b, const char *t) {
    Py_ssize_t k = 0;
    for (; a + k < b; k++) {
        unsigned char c = s[a + k];
        if (c >= 'A' && c <= 'Z') c += 32;
        if (t[k] == '\0' || (unsigned char)t[k] != c) return 0;
    }
    return t[k] == '\0';
}

static int ci_span_prefix(const unsigned char *s, Py_ssize_t a, Py_ssize_t b, const char *t) {
    Py_ssize_t k = 0;
    for (; t[k] != '\0'; k++) {
        if (a + k >= b) return 0;
        unsigned char c = s[a + k];
        if (c >= 'A' && c <= 'Z') c += 32;
        if ((unsigned char)t[k] != c) return 0;
    }
    return 1;
}

static int doctype_quirks(const unsigned char *s, Py_ssize_t a, Py_ssize_t b) {
    Py_ssize_t i = a;
    while (i < b && WS_CHAR(s[i])) i++;
    if (i >= b) return 1;  /* missing name: force-quirks */
    Py_ssize_t j = i;
    while (j < b && !WS_CHAR(s[j])) j++;
    if (!ci_span_eq(s, i, j, "html")) return 1;
    i = j;
    while (i < b && WS_CHAR(s[i])) i++;
    if (i >= b) return 0;  /* bare <!DOCTYPE html> */
    int is_public = ci_span_prefix(s, i, b, "public");
    int is_system = !is_public && ci_span_prefix(s, i, b, "system");
    if (!is_public && !is_system) return 1;  /* unknown keyword */
    Py_ssize_t pub0 = -1, pub1 = -1, sys0 = -1, sys1 = -1;
    Py_ssize_t k = i + 6;
    /* read_quoted #1 */
    while (k < b && WS_CHAR(s[k])) k++;
    if (!(k < b && (s[k] == '"' || s[k] == '\''))) return 1;  /* missing quote */
    {
        unsigned char q = s[k];
        const unsigned char *e = memchr(s + k + 1, q, (size_t)(b - k - 1));
        if (!e) return 1;  /* abrupt identifier */
        if (is_public) { pub0 = k + 1; pub1 = e - s; }
        else { sys0 = k + 1; sys1 = e - s; }
        k = (e - s) + 1;
    }
    if (is_public) {
        while (k < b && WS_CHAR(s[k])) k++;
        if (k < b) {
            if (s[k] == '"' || s[k] == '\'') {
                unsigned char q = s[k];
                const unsigned char *e = memchr(s + k + 1, q, (size_t)(b - k - 1));
                if (!e) return 1;  /* abrupt system identifier */
                sys0 = k + 1; sys1 = e - s;
            } else return 1;  /* junk between the identifiers */
        }
    }
    if (pub0 >= 0) {
        for (int x = 0; x < N_QUIRKS_PUB_EXACT; x++)
            if (ci_span_eq(s, pub0, pub1, QUIRKS_PUB_EXACT[x])) return 1;
        for (int x = 0; x < N_QUIRKS_PUB_PREFIX; x++)
            if (ci_span_prefix(s, pub0, pub1, QUIRKS_PUB_PREFIX[x])) return 1;
        if (sys0 < 0)
            for (int x = 0; x < N_QUIRKS_NOSYS_PREFIX; x++)
                if (ci_span_prefix(s, pub0, pub1, QUIRKS_NOSYS_PREFIX[x])) return 1;
    }
    if (sys0 >= 0 && ci_span_eq(s, sys0, sys1, QUIRKS_SYSTEM)) return 1;
    return 0;
}

static void handle_doctype(P *p, int ok, int64_t t0) {
    if (p->pend_n) { flush_tt(p); CHKV(p); }
    if (p->mode == M_INITIAL) {
        p->quirks = !ok;
        p->mode = M_BEFORE_HTML;
    } else err(p, E_UNEXPECTED_DOCTYPE, t0);  /* ignored */
}

/* ---- start-tag rules ---------------------------------------------- */

static int handle_start(P *p, int tid, PyObject *name, PyObject *attrs,
                        int self_closing, int64_t t0, int64_t t1);

/* _close_list_item (html5.py:2246-2264); names given as two tids */
static void close_list_item(P *p, int tid1, int tid2, int64_t pos) {
    for (int k = p->stack_n - 1; k >= 0; k--) {
        int32_t nid = p->stack[k];
        if (p->st.ns[nid] != NSP_HTML) {
            if (is_foreign_boundary(p, nid)) break;
            continue;
        }
        int t = p->st.tid[nid];
        if (t == tid1 || t == tid2) { pop_until(p, t, NULL, pos, -1, -1); break; }
        if (t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_LI_STOP)) break;
    }
    if (p->open_p > 0 && in_scope(p, TID_P, TID_BUTTON, -1))
        pop_until(p, TID_P, NULL, pos, -1, -1);
}

/* _close_cell (html5.py:868-882) */
static int close_cell(P *p, int64_t pos) {
    for (int k = p->stack_n - 1; k >= 0; k--) {
        int t = p->st.tid[p->stack[k]];
        if (t == TID_TD || t == TID_TH) return pop_until(p, t, NULL, pos, -1, -1);
        if (t == TID_TABLE || t == TID_HTML || t == TID_TEMPLATE) return 0;
    }
    return 0;
}

/* _start_in_body (html5.py:1967-2245), clean subset */
static int start_in_body(P *p, int tid, PyObject *name, PyObject *attrs,
                         int self_closing, int64_t t0, int64_t t1) {
    unsigned int fl = tflags(tid);
    if (!(fl & F_BESPOKE)) {
        /* fast path (html5.py:1968-1989): generic steps from flags */
        if ((fl & F_PCLOSE) && p->open_p > 0 && in_scope(p, TID_P, TID_BUTTON, -1)) {
            if (!(tid == TID_TABLE && p->quirks))
                pop_until(p, TID_P, NULL, t0, -1, -1);
        }
        if (p->afe_n && (fl & F_RECON_SET)) { reconstruct_formatting(p); CHKI(p); }
        if (fl & F_FRAMESET_BRK) p->frameset_ok = 0;
        if (fl & F_VOID) {
            insert_element(p, tid, name, attrs, t0, t1, 0);
            return CM_NONE;
        }
        int32_t nid = insert_element(p, tid, name, attrs, t0, t1, 1);
        if (nid < 0) return -1;
        if (fl & F_FORMATTING) { afe_push(p, tid, attrs, t0, t1, nid); CHKI(p); }
        if (fl & F_RAWTEXT) return CM_RAWTEXT;
        if (fl & F_RCDATA) return CM_RCDATA;
        return CM_NONE;
    }
    /* bespoke chain — remaining non-convertible branches bail */
    switch (tid) {
    case TID_ISINDEX: {
        /* legacy <isindex> expansion (html5.py:1994-2024): err;
         * ignored when a form is open; else synthesized
         * form>hr,label(prompt,input),hr */
        err(p, E_DEPRECATED_TAG, t0); CHKI(p);
        if (p->form_ptr >= 0) return CM_NONE;
        PyObject *form_attrs = PyDict_New();
        if (!form_attrs) { PyErr_Clear(); BAILI(p); }
        PyObject *action = attrs ? PyDict_GetItemString(attrs, "action") : NULL;
        if (action && PyDict_SetItemString(form_attrs, "action", action) < 0) {
            PyErr_Clear(); Py_DECREF(form_attrs); BAILI(p);
        }
        start_in_body(p, TID_FORM, NULL, form_attrs, 0, t0, t1);
        Py_DECREF(form_attrs);
        CHKI(p);
        start_in_body(p, TID_HR, NULL, empty_attrs, 0, t0, t1); CHKI(p);
        start_in_body(p, TID_LABEL, NULL, empty_attrs, 0, t0, t1); CHKI(p);
        PyObject *prompt = attrs ? PyDict_GetItemString(attrs, "prompt") : NULL;
        if (prompt) Py_INCREF(prompt);
        else {
            prompt = PyUnicode_FromString(
                "This is a searchable index. Enter search keywords: ");
            if (!prompt) { PyErr_Clear(); BAILI(p); }
        }
        insert_text(p, prompt, t0, t1, 0, 1); CHKI(p);
        PyObject *input_attrs = attrs ? PyDict_Copy(attrs) : PyDict_New();
        if (!input_attrs) { PyErr_Clear(); BAILI(p); }
        if (PyDict_DelItemString(input_attrs, "action") < 0) PyErr_Clear();
        if (PyDict_DelItemString(input_attrs, "prompt") < 0) PyErr_Clear();
        PyObject *iname = PyUnicode_FromString("isindex");
        if (!iname || PyDict_SetItemString(input_attrs, "name", iname) < 0) {
            PyErr_Clear(); Py_XDECREF(iname); Py_DECREF(input_attrs); BAILI(p);
        }
        Py_DECREF(iname);
        start_in_body(p, TID_INPUT, NULL, input_attrs, self_closing, t0, t1);
        Py_DECREF(input_attrs);
        CHKI(p);
        end_html(p, TID_LABEL, NULL, t0, t1); CHKI(p);
        start_in_body(p, TID_HR, NULL, empty_attrs, 0, t0, t1); CHKI(p);
        end_html(p, TID_FORM, NULL, t0, t1); CHKI(p);
        return CM_NONE;
    }
    case TID_FRAMESET: {
        int32_t b = p->body_id;
        if (b >= 0 && p->frameset_ok && p->st.parent[b] >= 0) {
            /* the body element is DETACHED — its subtree is discarded
             * by the DFS finalize's reachability walk */
            detach(p, b);
            while (p->stack_n && p->stack[p->stack_n - 1] != p->html_id) {
                int32_t nid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nid, t0);
            }
            PyObject *a2 = attrs; Py_XINCREF(a2);
            int32_t nid = new_node(p, T_ELEMENT, TID_FRAMESET, NULL, NULL, a2,
                                   t0, p->n, t0, t1, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, p->html_id);
            push_node(p, nid, NULL); CHKI(p);
            p->body_id = -1;
            p->mode = M_IN_FRAMESET;
            p->preorder_ok = 0;  /* orphaned body subtree */
        } else {
            err(p, E_UNEXPECTED_FRAMESET, t0);  /* ignored */
        }
        return CM_NONE;
    }
    case TID_IMAGE:
        /* html5.py:1991-1993: image → img (parse error), then the
         * generic img path: reconstruct + breaker + void insert */
        err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
        if (p->afe_n) { reconstruct_formatting(p); CHKI(p); }
        p->frameset_ok = 0;
        insert_element(p, TID_IMG, NULL, attrs, t0, t1, 0);
        return CM_NONE;
    case TID_HTML:
        /* duplicate <html>: err + merge missing attrs (html5.py:2026) */
        err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
        merge_root_attrs(p, p->html_id, attrs); CHKI(p);
        return CM_NONE;
    case TID_BODY:
        err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
        if (p->body_id >= 0 && p->body_id != p->html_id) {
            merge_root_attrs(p, p->body_id, attrs); CHKI(p);
        }
        return CM_NONE;
    case TID_HEAD: case TID_FRAME:
        err(p, E_UNEXPECTED_START_TAG, t0);  /* ignored */
        return CM_NONE;
    default: break;
    }
    if (fl & F_TABLEISH) {
        if (p->mode == M_IN_CELL) {
            if (!close_cell(p, t0)) {
                err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0);  /* ignored */
                return CM_NONE;
            }
            reset_mode(p); CHKI(p);
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        if (in_table_scope(p, TID_CAPTION) && cur_tid(p) != TID_TABLE) {
            pop_until(p, TID_CAPTION, NULL, t0, -1, -1);
            reset_mode(p); CHKI(p);
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        if (!in_table_scope(p, TID_TABLE)) {
            err(p, E_UNEXPECTED_START_TAG, t0);  /* table parts outside a table */
            return CM_NONE;
        }
        BAILI(p);  /* in-table-scope fall-through: odd fostered state */
    }
    if ((fl & F_PCLOSE) && p->open_p > 0 && in_scope(p, TID_P, TID_BUTTON, -1)) {
        if (!(tid == TID_TABLE && p->quirks) && !(tid == TID_FORM && p->form_ptr >= 0))
            pop_until(p, TID_P, NULL, t0, -1, -1);
    }
    if (fl & F_HEADING) {
        int c = cur_tid(p);
        if (c >= 0 && c < N_TAGS && (TAG_FLAGS[c] & F_HEADING)) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            pop_until(p, c, NULL, t0, -1, -1);
        }
    } else if (tid == TID_LI) {
        close_list_item(p, TID_LI, -1, t0);
    } else if (tid == TID_DD || tid == TID_DT) {
        close_list_item(p, TID_DD, TID_DT, t0);
    } else if (tid == TID_A) {
        int a_idx = -1;
        for (int k = p->afe_n - 1; k >= 0; k--) {
            if (p->afe[k].tid == -1) break;
            if (p->afe[k].tid == TID_A) { a_idx = k; break; }
        }
        if (a_idx >= 0) {
            /* err; AAA for "a" (trivial cases only — complex bails),
             * then force-drop the old entry/element */
            int32_t a_nid = p->afe[a_idx].nid;
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            adoption_agency(p, TID_A, t0, t0); CHKI(p);
            for (int k = p->afe_n - 1; k >= 0; k--) {
                if (p->afe[k].tid != -1 && p->afe[k].nid == a_nid) {
                    memmove(&p->afe[k], &p->afe[k + 1],
                            (size_t)(p->afe_n - k - 1) * sizeof(AfeEnt));
                    p->afe_n--;
                    break;
                }
            }
            int sk = nid_on_stack(p, a_nid);
            if (sk >= 0) {
                stack_remove_at(p, sk);
                close_implied(p, a_nid, t0);
            }
        }
    } else if (tid == TID_NOBR) {
        reconstruct_formatting(p); CHKI(p);
        if (in_scope(p, TID_NOBR, -1, -1)) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            adoption_agency(p, TID_NOBR, t0, t0); CHKI(p);
            reconstruct_formatting(p); CHKI(p);
        }
    } else if (tid == TID_BUTTON) {
        if (in_scope(p, TID_BUTTON, -1, -1)) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            pop_until(p, TID_BUTTON, NULL, t0, -1, -1);
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
    } else if (tid == TID_OPTION || tid == TID_OPTGROUP) {
        if (cur_tid(p) == TID_OPTION) pop_until(p, TID_OPTION, NULL, t0, -1, -1);
    } else if (tid == TID_RP || tid == TID_RT) {
        /* html5.py:2144-2155 */
        if (in_scope(p, TID_RUBY, -1, -1)) {
            while (p->stack_n) {
                int c = cur_tid(p);
                if (!(c >= 0 && c < N_TAGS && (TAG_FLAGS[c] & F_IMPLIED_END))) break;
                int32_t nid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nid, t0);
            }
            if (cur_tid(p) != TID_RUBY) { err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p); }
        }
        insert_element(p, tid, name, attrs, t0, t1, 1);
        return CM_NONE;
    }
    /* common tail (html5.py:2150-2245) */
    if (p->afe_n) {
        int recon = (fl & F_FORMATTING) ||
            (!(fl & (F_PCLOSE | F_HEADING | F_VOID | F_RAWTEXT)) &&
             tid != TID_LI && tid != TID_DD && tid != TID_DT &&
             tid != TID_TEMPLATE && tid != TID_TEXTAREA);
        if (recon) { reconstruct_formatting(p); CHKI(p); }
    }
    if (fl & F_FRAMESET_BRK) p->frameset_ok = 0;
    if (tid == TID_FORM) {
        int no_tmpl = 1;
        for (int k = 0; k < p->stack_n; k++)
            if (p->st.type[p->stack[k]] == T_TEMPLATE) { no_tmpl = 0; break; }
        if (p->form_ptr >= 0 && no_tmpl) {
            err(p, E_NESTED_FORM_IGNORED, t0);  /* ignored */
            return CM_NONE;
        }
        int32_t nid = insert_element(p, tid, name, attrs, t0, t1, 1);
        if (nid < 0) return -1;
        if (no_tmpl) p->form_ptr = nid;
        return CM_NONE;
    }
    if (tid == TID_APPLET || tid == TID_MARQUEE || tid == TID_OBJECT) {
        insert_element(p, tid, name, attrs, t0, t1, 1);
        CHKI(p);
        afe_push_marker(p); CHKI(p);
        return CM_NONE;
    }
    if (tid == TID_TEMPLATE) {
        start_template(p, attrs, t0, t1);
        CHKI(p);
        return CM_NONE;
    }
    if (tid == TID_SVG || tid == TID_MATH) {
        /* foreign-content root (html5.py:2185-2199) */
        int ns = tid == TID_SVG ? NSP_SVG : NSP_MATHML;
        PyObject *use_attrs = adjust_foreign_attrs(p, attrs, ns);
        CHKI(p);
        int32_t nid = insert_element(p, tid, name, use_attrs, t0, t1, !self_closing);
        Py_XDECREF(use_attrs);
        CHKI(p);
        if (nid >= 0) p->st.ns[nid] = (int8_t)ns;
        p->has_foreign = 1;
        return CM_NONE;
    }
    if (fl & F_VOID) {  /* bespoke voids (none expected beyond frame) */
        insert_element(p, tid, name, attrs, t0, t1, 0);
        return CM_NONE;
    }
    int32_t nid = insert_element(p, tid, name, attrs, t0, t1, 1);
    if (nid < 0) return -1;
    if (fl & F_FORMATTING) { afe_push(p, tid, attrs, t0, t1, nid); CHKI(p); }
    if (tid == TID_TABLE) { p->mode = M_IN_TABLE; return CM_NONE; }
    if (tid == TID_SELECT) {
        /* html5.py:2209-2226 (round-5 mode-based form; the caption-
         * fragment leg cannot occur in the C subset; the foster leg
         * covers a select opened via in-table delegation) */
        p->select_in_table = (p->mode == M_IN_CELL) || p->foster ||
                             in_table_scope(p, TID_CAPTION);
        p->mode = M_IN_SELECT;
        return CM_NONE;
    }
    if (tid == TID_PRE || tid == TID_LISTING || tid == TID_TEXTAREA)
        p->skip_newline = 1;
    if (tid == TID_PLAINTEXT) return CM_PLAINTEXT;  /* tokenizer: never exits */
    if (fl & F_RAWTEXT) return CM_RAWTEXT;
    if (fl & F_RCDATA) return CM_RCDATA;
    return CM_NONE;
}

/* _start_template / _end_template (html5.py:1370-1402) */
static void start_template(P *p, PyObject *attrs, int64_t t0, int64_t t1) {
    if (!ensure_tmpl(p, p->tmpl_n + 1)) return;
    int32_t nid = insert_element(p, TID_TEMPLATE, NULL, attrs, t0, t1, 1);
    CHKV(p);
    if (nid >= 0) p->st.type[nid] = T_TEMPLATE;
    afe_push_marker(p); CHKV(p);
    p->frameset_ok = 0;
    p->mode = M_IN_TEMPLATE;
    p->tmpl_modes[p->tmpl_n++] = M_IN_TEMPLATE;
}

static void end_template(P *p, int64_t t0, int64_t t1) {
    int found = 0;
    for (int k = 0; k < p->stack_n; k++)
        if (p->st.type[p->stack[k]] == T_TEMPLATE) { found = 1; break; }
    if (!found) { err(p, E_UNEXPECTED_END_TAG, t0); return; }
    while (p->stack_n) {
        int32_t nid = p->stack[p->stack_n - 1];
        pop_node(p);
        if (p->st.type[nid] == T_TEMPLATE) {
            set_end_span(p, nid, t0, t1);
            break;
        }
        /* html5.py:1396-1399: the extra p decrement precedes
         * close_implied's own — transcribed exactly */
        if (p->st.tid[nid] == TID_P) p->open_p--;
        close_implied(p, nid, t0);
    }
    afe_clear_to_marker(p);
    if (p->tmpl_n) p->tmpl_n--;
    reset_mode(p);
}

/* _start_in_template (html5.py:1404-1432) */
static int start_in_template(P *p, int tid, PyObject *name, PyObject *attrs,
                             int self_closing, int64_t t0, int64_t t1) {
    if (tid == TID_BASE || tid == TID_BASEFONT || tid == TID_BGSOUND ||
        tid == TID_LINK || tid == TID_META || tid == TID_NOFRAMES ||
        tid == TID_SCRIPT || tid == TID_STYLE || tid == TID_TEMPLATE ||
        tid == TID_TITLE) {
        if (tid == TID_TEMPLATE) { start_template(p, attrs, t0, t1); return CM_NONE; }
        if (tid == TID_BASE || tid == TID_BASEFONT || tid == TID_BGSOUND ||
            tid == TID_LINK || tid == TID_META) {
            insert_element(p, tid, name, attrs, t0, t1, 0);
            return CM_NONE;
        }
        insert_element(p, tid, name, attrs, t0, t1, 1);
        return tid == TID_TITLE ? CM_RCDATA : CM_RAWTEXT;
    }
    int remode;
    if (tid == TID_CAPTION || tid == TID_COLGROUP || tid == TID_TBODY ||
        tid == TID_TFOOT || tid == TID_THEAD)
        remode = M_IN_TABLE;
    else if (tid == TID_COL) remode = M_IN_COLGROUP;
    else if (tid == TID_TR) remode = M_IN_TABLE_BODY;
    else if (tid == TID_TD || tid == TID_TH) remode = M_IN_ROW;
    else remode = M_IN_BODY;
    if (p->tmpl_n) p->tmpl_modes[p->tmpl_n - 1] = remode;
    p->mode = remode;
    return handle_start(p, tid, name, attrs, self_closing, t0, t1);
}

/* _clear_to_table_context (html5.py:2266-2282) */
static void clear_to_table_context(P *p, int s1, int s2, int s3, int s4, int64_t pos) {
    while (p->stack_n) {
        int t = cur_tid(p);
        if (t == s1 || t == s2 || t == s3 || t == s4 || t == TID_HTML) break;
        if (p->stack_n && p->st.type[p->stack[p->stack_n - 1]] == T_TEMPLATE) break;
        int32_t nid = p->stack[p->stack_n - 1];
        pop_node(p);
        close_implied(p, nid, pos);
    }
}

/* _start_in_table (html5.py:2283-2417); parse-error branches bail */
static int start_in_table(P *p, int tid, PyObject *name, PyObject *attrs,
                          int self_closing, int64_t t0, int64_t t1) {
    int mode = p->mode;
    if (tid == TID_TEMPLATE) {
        /* in-head rule: inserted at the current location, no foster */
        start_template(p, attrs, t0, t1);
        CHKI(p);
        return CM_NONE;
    }
    if (mode == M_IN_TABLE) {
        if (tid == TID_TBODY || tid == TID_THEAD || tid == TID_TFOOT) {
            clear_to_table_context(p, TID_TABLE, -1, -1, -1, t0);
            insert_element(p, tid, name, attrs, t0, t1, 1);
            p->mode = M_IN_TABLE_BODY;
            return CM_NONE;
        }
        if (tid == TID_TD || tid == TID_TH || tid == TID_TR) {
            /* err + implied <tbody> + reprocess (html5.py:2297-2304) */
            err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0); CHKI(p);
            clear_to_table_context(p, TID_TABLE, -1, -1, -1, t0);
            PyObject *ea = empty_attrs; Py_INCREF(ea);
            int32_t nid = new_node(p, T_ELEMENT, TID_TBODY, NULL, NULL, ea,
                                   t0, p->n, t0, t0, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, cur(p));
            push_node(p, nid, NULL); CHKI(p);
            p->mode = M_IN_TABLE_BODY;
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        if (tid == TID_CAPTION) {
            clear_to_table_context(p, TID_TABLE, -1, -1, -1, t0);
            insert_element(p, tid, name, attrs, t0, t1, 1);
            CHKI(p);
            afe_push_marker(p); CHKI(p);
            p->mode = M_IN_BODY;  /* in-caption ≈ in-body */
            return CM_NONE;
        }
        if (tid == TID_COLGROUP) {
            clear_to_table_context(p, TID_TABLE, -1, -1, -1, t0);
            insert_element(p, tid, name, attrs, t0, t1, 1);
            p->mode = M_IN_COLGROUP;
            return CM_NONE;
        }
        if (tid == TID_COL) {
            /* implied <colgroup> (no parse error) */
            clear_to_table_context(p, TID_TABLE, -1, -1, -1, t0);
            PyObject *ea = empty_attrs; Py_INCREF(ea);
            int32_t nid = new_node(p, T_ELEMENT, TID_COLGROUP, NULL, NULL, ea,
                                   t0, p->n, t0, t0, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, cur(p));
            push_node(p, nid, NULL); CHKI(p);
            p->mode = M_IN_COLGROUP;
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        if (tid == TID_TABLE) {
            /* err; </table>-then-reprocess unless no table in scope */
            err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0); CHKI(p);
            if (!in_table_scope(p, TID_TABLE)) return CM_NONE;
            pop_until(p, TID_TABLE, NULL, t0, -1, -1);
            reset_mode(p); CHKI(p);
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        if (tid == TID_STYLE || tid == TID_SCRIPT) {
            insert_element(p, tid, name, attrs, t0, t1, 1);
            return CM_RAWTEXT;
        }
        if (tid == TID_FORM) {
            /* html5.py:2339-2343: err; inserted un-pushed only when
             * no form pointer is set */
            err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0); CHKI(p);
            if (p->form_ptr < 0) {
                int32_t nid = insert_element(p, tid, name, attrs, t0, t1, 0);
                CHKI(p);
                p->form_ptr = nid;
            }
            return CM_NONE;
        }
        /* anything else: foster-parented in-body processing
         * (html5.py:2345-2354) */
        err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0); CHKI(p);
        {
            int saved = p->mode;
            p->foster = 1;
            p->mode = M_IN_BODY;
            int r = start_in_body(p, tid, name, attrs, self_closing, t0, t1);
            if (p->mode == M_IN_BODY) p->mode = saved;
            p->foster = 0;
            return r;
        }
    }
    if (mode == M_IN_TABLE_BODY) {
        if (tid == TID_TR) {
            clear_to_table_context(p, TID_TBODY, TID_THEAD, TID_TFOOT, TID_TABLE, t0);
            insert_element(p, tid, name, attrs, t0, t1, 1);
            p->mode = M_IN_ROW;
            return CM_NONE;
        }
        if (tid == TID_TD || tid == TID_TH) {
            /* err + implied <tr> + reprocess (html5.py:2361-2368) */
            err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0); CHKI(p);
            clear_to_table_context(p, TID_TBODY, TID_THEAD, TID_TFOOT, TID_TABLE, t0);
            PyObject *ea = empty_attrs; Py_INCREF(ea);
            int32_t nid = new_node(p, T_ELEMENT, TID_TR, NULL, NULL, ea,
                                   t0, p->n, t0, t0, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, cur(p));
            push_node(p, nid, NULL); CHKI(p);
            p->mode = M_IN_ROW;
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        if (tid == TID_TBODY || tid == TID_THEAD || tid == TID_TFOOT ||
            tid == TID_CAPTION || tid == TID_COL || tid == TID_COLGROUP || tid == TID_TABLE) {
            if (!in_table_scope(p, TID_TBODY) && !in_table_scope(p, TID_THEAD) &&
                !in_table_scope(p, TID_TFOOT)) {
                err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0);  /* ignored */
                return CM_NONE;
            }
            for (int k = p->stack_n - 1; k >= 0; k--) {
                int t = p->st.tid[p->stack[k]];
                if (t == TID_TBODY || t == TID_THEAD || t == TID_TFOOT) {
                    pop_until(p, t, NULL, t0, -1, -1);
                    break;
                }
                if (t == TID_TABLE) break;
            }
            p->mode = M_IN_TABLE;
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        p->mode = M_IN_TABLE;
        int r = handle_start(p, tid, name, attrs, self_closing, t0, t1);
        if (p->mode == M_IN_TABLE) p->mode = M_IN_TABLE_BODY;
        return r;
    }
    /* M_IN_ROW */
    if (tid == TID_TD || tid == TID_TH) {
        clear_to_table_context(p, TID_TR, TID_TABLE, -1, -1, t0);
        insert_element(p, tid, name, attrs, t0, t1, 1);
        CHKI(p);
        afe_push_marker(p); CHKI(p);
        p->mode = M_IN_CELL;
        return CM_NONE;
    }
    if (tid == TID_TR || tid == TID_CAPTION || tid == TID_COL || tid == TID_COLGROUP ||
        tid == TID_TABLE || tid == TID_TBODY || tid == TID_THEAD || tid == TID_TFOOT) {
        if (!in_table_scope(p, TID_TR)) {
            err(p, E_UNEXPECTED_START_TAG_IN_TABLE, t0);  /* ignored */
            return CM_NONE;
        }
        pop_until(p, TID_TR, NULL, t0, -1, -1);
        p->mode = M_IN_TABLE_BODY;
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    p->mode = M_IN_TABLE;
    int r = handle_start(p, tid, name, attrs, self_closing, t0, t1);
    if (p->mode == M_IN_TABLE) p->mode = M_IN_ROW;
    return r;
}

/* _start_in_select (html5.py:1908-1965); parse-error branches bail */
static int start_in_select(P *p, int tid, PyObject *name, PyObject *attrs,
                           int self_closing, int64_t t0, int64_t t1) {
    if (tid == TID_TEMPLATE) {
        start_template(p, attrs, t0, t1);
        CHKI(p);
        return CM_NONE;
    }
    if (tid == TID_OPTION) {
        if (cur_tid(p) == TID_OPTION) pop_until(p, TID_OPTION, NULL, t0, -1, -1);
        insert_element(p, tid, name, attrs, t0, t1, 1);
        return CM_NONE;
    }
    if (tid == TID_OPTGROUP) {
        if (cur_tid(p) == TID_OPTION) pop_until(p, TID_OPTION, NULL, t0, -1, -1);
        if (cur_tid(p) == TID_OPTGROUP) pop_until(p, TID_OPTGROUP, NULL, t0, -1, -1);
        insert_element(p, tid, name, attrs, t0, t1, 1);
        return CM_NONE;
    }
    if (tid == TID_SCRIPT) {
        insert_element(p, tid, name, attrs, t0, t1, 1);
        return CM_RAWTEXT;
    }
    if (tid == TID_HTML) {
        err(p, E_UNEXPECTED_START_TAG_IN_SELECT, t0); CHKI(p);
        merge_root_attrs(p, p->html_id, attrs); CHKI(p);
        return CM_NONE;
    }
    if (tid == TID_SELECT || tid == TID_INPUT || tid == TID_KEYGEN || tid == TID_TEXTAREA) {
        /* err; close the select and reprocess (dup <select> just closes) */
        err(p, E_UNEXPECTED_START_TAG_IN_SELECT, t0); CHKI(p);
        if (!stack_has_tid(p, TID_SELECT)) return CM_NONE;  /* fragment case */
        pop_until(p, TID_SELECT, NULL, t0, -1, -1);
        reset_mode(p); CHKI(p);
        if (tid == TID_SELECT) return CM_NONE;
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    if (tid == TID_CAPTION || tid == TID_TABLE || tid == TID_TBODY ||
        tid == TID_TFOOT || tid == TID_THEAD || tid == TID_TR ||
        tid == TID_TD || tid == TID_TH) {
        /* html5.py:1948-1960: break out only for select-in-table */
        if (p->select_in_table && stack_has_tid(p, TID_SELECT)) {
            err(p, E_UNEXPECTED_START_TAG_IN_SELECT, t0); CHKI(p);
            pop_until(p, TID_SELECT, NULL, t0, -1, -1);
            reset_mode(p); CHKI(p);
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        err(p, E_UNEXPECTED_START_TAG_IN_SELECT, t0);  /* ignored */
        return CM_NONE;
    }
    err(p, E_UNEXPECTED_START_TAG_IN_SELECT, t0);  /* anything else: ignored */
    return CM_NONE;
}

/* _start_html (html5.py:1739-1906) */
static int start_html(P *p, int tid, PyObject *name, PyObject *attrs,
                      int self_closing, int64_t t0, int64_t t1) {
    if (p->pend_n) { flush_tt(p); CHKI(p); }
    p->skip_newline = 0;
    int mode = p->mode;
    if (mode == M_IN_BODY || mode == M_IN_CELL)
        return start_in_body(p, tid, name, attrs, self_closing, t0, t1);
    if (mode == M_INITIAL) {
        p->mode = M_BEFORE_HTML;
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    if (mode == M_BEFORE_HTML) {
        if (tid == TID_HTML) {
            PyObject *a2 = attrs; Py_XINCREF(a2);
            int32_t nid = new_node(p, T_ELEMENT, TID_HTML, NULL, NULL, a2,
                                   t0, p->n, t0, t1, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, 0);
            push_node(p, nid, NULL); CHKI(p);
            p->html_id = nid;
            p->mode = M_BEFORE_HEAD;
            return CM_NONE;
        }
        ensure_html(p, t0); CHKI(p);
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    if (mode == M_BEFORE_HEAD) {
        if (tid == TID_HTML) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            merge_root_attrs(p, p->html_id, attrs); CHKI(p);
            return CM_NONE;
        }
        if (tid == TID_HEAD) {
            PyObject *a2 = attrs; Py_XINCREF(a2);
            int32_t nid = new_node(p, T_ELEMENT, TID_HEAD, NULL, NULL, a2,
                                   t0, p->n, t0, t1, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, p->html_id);
            push_node(p, nid, NULL); CHKI(p);
            p->head_id = nid;
            p->mode = M_IN_HEAD;
            return CM_NONE;
        }
        ensure_head(p, t0); CHKI(p);
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    if (mode == M_IN_HEAD) {
        if (tid == TID_HTML) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            merge_root_attrs(p, p->html_id, attrs); CHKI(p);
            return CM_NONE;
        }
        if (cur_tid(p) == TID_NOSCRIPT) {
            /* in-head-noscript (html5.py:1783-1795) */
            if (tid == TID_NOSCRIPT || tid == TID_HEAD) {
                err(p, E_UNEXPECTED_START_TAG, t0);  /* ignored */
                return CM_NONE;
            }
            if (!(tid == TID_BASEFONT || tid == TID_BGSOUND || tid == TID_LINK ||
                  tid == TID_META || tid == TID_NOFRAMES || tid == TID_STYLE)) {
                err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
                int32_t nsid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nsid, t0);
                return handle_start(p, tid, name, attrs, self_closing, t0, t1);
            }
        }
        if (tid == TID_BASE || tid == TID_BASEFONT || tid == TID_BGSOUND ||
            tid == TID_LINK || tid == TID_META) {
            insert_element(p, tid, name, attrs, t0, t1, 0);
            return CM_NONE;
        }
        if (tid == TID_NOSCRIPT) {
            insert_element(p, tid, name, attrs, t0, t1, 1);
            return CM_NONE;
        }
        if (tid == TID_TEMPLATE) {
            start_template(p, attrs, t0, t1);
            CHKI(p);
            return CM_NONE;
        }
        if (tid == TID_TITLE || tid == TID_STYLE || tid == TID_SCRIPT || tid == TID_NOFRAMES) {
            insert_element(p, tid, name, attrs, t0, t1, 1);
            return tid == TID_TITLE ? CM_RCDATA : CM_RAWTEXT;
        }
        if (tid == TID_HEAD) {
            err(p, E_UNEXPECTED_START_TAG, t0);  /* ignored */
            return CM_NONE;
        }
        pop_head(p, t0, -1, -1);
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    if (mode == M_AFTER_HEAD) {
        if (tid == TID_FRAMESET) {
            PyObject *a2 = attrs; Py_XINCREF(a2);
            int32_t nid = new_node(p, T_ELEMENT, TID_FRAMESET, NULL, NULL, a2,
                                   t0, p->n, t0, t1, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, p->html_id);
            push_node(p, nid, NULL); CHKI(p);
            p->mode = M_IN_FRAMESET;
            return CM_NONE;
        }
        if (tid == TID_BODY) {
            PyObject *a2 = attrs; Py_XINCREF(a2);
            int32_t nid = new_node(p, T_ELEMENT, TID_BODY, NULL, NULL, a2,
                                   t0, p->n, t0, t1, p->n, p->n);
            if (nid < 0) return -1;
            attach(p, nid, p->html_id);
            push_node(p, nid, NULL); CHKI(p);
            p->body_id = nid;
            p->mode = M_IN_BODY;
            return CM_NONE;
        }
        if (tid == TID_HTML || tid == TID_HEAD) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            if (tid == TID_HTML) { merge_root_attrs(p, p->html_id, attrs); CHKI(p); }
            return CM_NONE;
        }
        if (tid == TID_TEMPLATE) BAILI(p);
        if (tid == TID_BASE || tid == TID_BASEFONT || tid == TID_BGSOUND ||
            tid == TID_LINK || tid == TID_META || tid == TID_NOFRAMES ||
            tid == TID_SCRIPT || tid == TID_STYLE || tid == TID_TITLE) {
            /* html5.py:1833-1855: err; re-push the head, process per
             * in-head, the element lands INSIDE the head.  The Python
             * engine keeps CREATION order here (preorder_ok stays
             * true even though a later sibling of the head may exist
             * — a pinned containment quirk); emitting creation order
             * reproduces it exactly. */
            err(p, E_UNEXPECTED_START_TAG_AFTER_HEAD, t0); CHKI(p);
            push_node(p, p->head_id, NULL); CHKI(p);
            if (tid == TID_BASE || tid == TID_BASEFONT || tid == TID_BGSOUND ||
                tid == TID_LINK || tid == TID_META) {
                insert_element(p, tid, name, attrs, t0, t1, 0); CHKI(p);
                pop_node(p);
                return CM_NONE;
            }
            insert_element(p, tid, name, attrs, t0, t1, 1); CHKI(p);
            return tid == TID_TITLE ? CM_RCDATA : CM_RAWTEXT;
        }
        ensure_body(p, t0); CHKI(p);
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    if (mode == M_IN_TEMPLATE)
        return start_in_template(p, tid, name, attrs, self_closing, t0, t1);
    if (mode == M_IN_TABLE || mode == M_IN_TABLE_BODY || mode == M_IN_ROW)
        return start_in_table(p, tid, name, attrs, self_closing, t0, t1);
    if (mode == M_IN_SELECT)
        return start_in_select(p, tid, name, attrs, self_closing, t0, t1);
    if (mode == M_IN_COLGROUP) {
        if (tid == TID_COL) {
            insert_element(p, tid, name, attrs, t0, t1, 0);
            return CM_NONE;
        }
        if (tid == TID_HTML) {
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            merge_root_attrs(p, p->html_id, attrs); CHKI(p);
            return CM_NONE;
        }
        if (cur_tid(p) == TID_COLGROUP) {
            int32_t nid = p->stack[p->stack_n - 1];
            pop_node(p);
            close_implied(p, nid, t0);
            p->mode = M_IN_TABLE;
            return handle_start(p, tid, name, attrs, self_closing, t0, t1);
        }
        err(p, E_UNEXPECTED_START_TAG, t0);  /* colgroup fragment: ignored */
        return CM_NONE;
    }
    if (mode == M_IN_FRAMESET) {
        if (tid == TID_FRAMESET) {
            insert_element(p, tid, name, attrs, t0, t1, 1);
            return CM_NONE;
        }
        if (tid == TID_FRAME) {
            insert_element(p, tid, name, attrs, t0, t1, 0);
            return CM_NONE;
        }
        if (tid == TID_NOFRAMES) {
            insert_element(p, tid, name, attrs, t0, t1, 1);
            return CM_RAWTEXT;
        }
        if (tid == TID_HTML) { merge_root_attrs(p, p->html_id, attrs); CHKI(p); }
        err(p, E_UNEXPECTED_START_TAG_IN_FRAMESET, t0);  /* ignored */
        return CM_NONE;
    }
    if (mode == M_AFTER_FRAMESET) {
        if (tid == TID_NOFRAMES) {
            insert_element(p, tid, name, attrs, t0, t1, 1);
            return CM_RAWTEXT;
        }
        if (tid == TID_HTML) { merge_root_attrs(p, p->html_id, attrs); CHKI(p); }
        err(p, E_UNEXPECTED_START_TAG_AFTER_FRAMESET, t0);  /* ignored */
        return CM_NONE;
    }
    if (mode == M_AFTER_BODY || mode == M_AFTER_AFTER_BODY) {
        if (tid == TID_HTML) {
            /* err + merge WITHOUT leaving the after-body state */
            err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
            merge_root_attrs(p, p->html_id, attrs); CHKI(p);
            return CM_NONE;
        }
        err(p, E_UNEXPECTED_START_TAG, t0); CHKI(p);
        p->mode = M_IN_BODY;
        return handle_start(p, tid, name, attrs, self_closing, t0, t1);
    }
    return start_in_body(p, tid, name, attrs, self_closing, t0, t1);
}

static int handle_start(P *p, int tid, PyObject *name, PyObject *attrs,
                        int self_closing, int64_t t0, int64_t t1) {
    if (p->has_foreign && use_foreign(p, UF_START, tid, name))
        return foreign_start(p, tid, name, attrs, self_closing, t0, t1);
    return start_html(p, tid, name, attrs, self_closing, t0, t1);
}

/* ---- end-tag rules ------------------------------------------------ */
static void end_html(P *p, int tid, PyObject *name, int64_t t0, int64_t t1);

/* _end_in_table (html5.py:2798-2888); parse-error/foster paths bail */
static void end_in_table(P *p, int tid, PyObject *name, int64_t t0, int64_t t1) {
    int mode = p->mode;
    if (tid == TID_TEMPLATE) { end_template(p, t0, t1); return; }
    if (tid == TID_TABLE) {
        if (mode == M_IN_ROW) {
            if (!in_table_scope(p, TID_TR)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
            pop_until(p, TID_TR, NULL, t0, -1, -1);
            p->mode = M_IN_TABLE_BODY;
            end_in_table(p, tid, name, t0, t1);
            return;
        }
        if (mode == M_IN_TABLE_BODY) {
            if (!in_table_scope(p, TID_TBODY) && !in_table_scope(p, TID_THEAD) &&
                !in_table_scope(p, TID_TFOOT)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
            for (int k = p->stack_n - 1; k >= 0; k--) {
                int t = p->st.tid[p->stack[k]];
                if (t == TID_TBODY || t == TID_THEAD || t == TID_TFOOT) {
                    pop_until(p, t, NULL, t0, -1, -1);
                    break;
                }
                if (t == TID_TABLE) break;
            }
            p->mode = M_IN_TABLE;
            end_in_table(p, tid, name, t0, t1);
            return;
        }
        if (!in_table_scope(p, TID_TABLE)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
        pop_until(p, TID_TABLE, NULL, t0, t0, t1);
        reset_mode(p);
        return;
    }
    if (mode == M_IN_TABLE_BODY &&
        (tid == TID_TBODY || tid == TID_THEAD || tid == TID_TFOOT)) {
        if (!in_table_scope(p, tid)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
        pop_until(p, tid, NULL, t0, t0, t1);
        p->mode = M_IN_TABLE;
        return;
    }
    if (mode == M_IN_ROW && tid == TID_TR) {
        if (!in_table_scope(p, TID_TR)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
        pop_until(p, TID_TR, NULL, t0, t0, t1);
        p->mode = M_IN_TABLE_BODY;
        return;
    }
    if (mode == M_IN_ROW &&
        (tid == TID_TBODY || tid == TID_THEAD || tid == TID_TFOOT)) {
        if (!in_table_scope(p, tid)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
        pop_until(p, TID_TR, NULL, t0, -1, -1);
        p->mode = M_IN_TABLE_BODY;
        end_in_table(p, tid, name, t0, t1);
        return;
    }
    if (tid == TID_BODY || tid == TID_HTML || tid == TID_TD || tid == TID_TH ||
        tid == TID_TR || tid == TID_CAPTION || tid == TID_COL || tid == TID_COLGROUP) {
        err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0);  /* ignored */
        return;
    }
    /* anything else: in-body rules with foster parenting for any
     * INSERTION (html5.py:2880-2888) — pops proceed; an actual
     * fostered insert (</br>, the </p> synth) bails via p->foster */
    {
        int saved = p->mode;
        p->foster = 1;
        p->mode = M_IN_BODY;
        end_html(p, tid, name, t0, t1);
        if (p->mode == M_IN_BODY) p->mode = saved;
        p->foster = 0;
    }
}

/* _end_html (html5.py:2419-2798) */
static void end_html(P *p, int tid, PyObject *name, int64_t t0, int64_t t1) {
    if (p->pend_n) { flush_tt(p); CHKV(p); }
    p->skip_newline = 0;
    int mode = p->mode;
    if (mode != M_IN_BODY && mode != M_IN_CELL) {
        if (mode == M_IN_TEMPLATE) {
            /* spec in-template end tags: template via in-head,
             * anything else parse error + ignored */
            if (tid == TID_TEMPLATE) end_template(p, t0, t1);
            else err(p, E_UNEXPECTED_END_TAG, t0);
            return;
        }
        if (mode == M_INITIAL || mode == M_BEFORE_HTML || mode == M_BEFORE_HEAD) {
            if (tid == TID_HEAD || tid == TID_BODY || tid == TID_HTML || tid == TID_BR) {
                ensure_head(p, t0); CHKV(p);
                end_html(p, tid, name, t0, t1);
            } else err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
            return;
        }
        if (mode == M_IN_HEAD) {
            if (cur_tid(p) == TID_NOSCRIPT) {
                if (tid == TID_BR) {
                    /* html5.py:2447-2451: err, pop noscript, reprocess */
                    err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
                    int32_t nid = p->stack[p->stack_n - 1];
                    pop_node(p);
                    close_implied(p, nid, t0);
                    end_html(p, tid, name, t0, t1);
                    return;
                }
                if (tid != TID_NOSCRIPT) { err(p, E_UNEXPECTED_END_TAG, t0); return; }
            }
            if (tid == TID_HEAD) { pop_head(p, t0, t0, t1); return; }
            if (tid == TID_BODY || tid == TID_HTML || tid == TID_BR) {
                pop_head(p, t0, -1, -1);
                end_html(p, tid, name, t0, t1);
                return;
            }
            if (tid == TID_TEMPLATE) { end_template(p, t0, t1); return; }
            if (tid == TID_TITLE || tid == TID_STYLE || tid == TID_SCRIPT || tid == TID_NOSCRIPT) {
                pop_until(p, tid, NULL, t0, t0, t1);
                return;
            }
            err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
            return;
        }
        if (mode == M_AFTER_HEAD) {
            if (tid == TID_BODY || tid == TID_HTML || tid == TID_BR) {
                ensure_body(p, t0); CHKV(p);
                end_html(p, tid, name, t0, t1);
                return;
            }
            if (tid == TID_TITLE || tid == TID_NOFRAMES || tid == TID_SCRIPT || tid == TID_STYLE) {
                /* stray close (no error recorded when nothing pops) */
                pop_until(p, tid, NULL, t0, t0, t1);
                if (p->stack_n && p->stack[p->stack_n - 1] == p->head_id) pop_node(p);
                return;
            }
            err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
            return;
        }
        if (mode == M_IN_TABLE || mode == M_IN_TABLE_BODY || mode == M_IN_ROW) {
            end_in_table(p, tid, name, t0, t1);
            return;
        }
        if (mode == M_IN_SELECT) {
            if (tid == TID_TEMPLATE) { end_template(p, t0, t1); return; }
            if (tid == TID_OPTION) {
                if (cur_tid(p) == TID_OPTION) pop_until(p, TID_OPTION, NULL, t0, t0, t1);
                else err(p, E_UNEXPECTED_END_TAG, t0);
                return;
            }
            if (tid == TID_OPTGROUP) {
                if (p->stack_n >= 2 && cur_tid(p) == TID_OPTION &&
                    p->st.tid[p->stack[p->stack_n - 2]] == TID_OPTGROUP) {
                    int32_t nid = p->stack[p->stack_n - 1];
                    pop_node(p);
                    close_implied(p, nid, t0);
                }
                if (cur_tid(p) == TID_OPTGROUP) pop_until(p, TID_OPTGROUP, NULL, t0, t0, t1);
                else err(p, E_UNEXPECTED_END_TAG, t0);
                return;
            }
            if (tid == TID_SELECT) {
                if (pop_until(p, TID_SELECT, NULL, t0, t0, t1)) reset_mode(p);
                else err(p, E_UNEXPECTED_END_TAG, t0);
                return;
            }
            if (tid == TID_CAPTION || tid == TID_TABLE || tid == TID_TBODY ||
                tid == TID_TFOOT || tid == TID_THEAD || tid == TID_TR ||
                tid == TID_TD || tid == TID_TH) {
                err(p, E_UNEXPECTED_END_TAG_IN_SELECT_IN_TABLE, t0); CHKV(p);
                if (in_table_scope(p, tid)) {
                    pop_until(p, TID_SELECT, NULL, t0, -1, -1);
                    reset_mode(p); CHKV(p);
                    end_html(p, tid, name, t0, t1);
                }
                return;
            }
            err(p, E_UNEXPECTED_END_TAG, t0);  /* anything else: ignored */
            return;
        }
        if (mode == M_IN_FRAMESET) {
            if (tid == TID_FRAMESET) {
                if (p->stack_n && cur_tid(p) == TID_FRAMESET) {
                    pop_until(p, TID_FRAMESET, NULL, t0, t0, t1);
                    if (p->stack_n && cur_tid(p) != TID_FRAMESET)
                        p->mode = M_AFTER_FRAMESET;
                } else err(p, E_UNEXPECTED_END_TAG_IN_FRAMESET, t0);
            } else if (tid == TID_NOFRAMES) {
                pop_until(p, TID_NOFRAMES, NULL, t0, t0, t1);
            } else err(p, E_UNEXPECTED_END_TAG_IN_FRAMESET, t0);
            return;
        }
        if (mode == M_AFTER_FRAMESET) {
            if (tid == TID_NOFRAMES) pop_until(p, TID_NOFRAMES, NULL, t0, t0, t1);
            else if (tid == TID_HTML && p->html_id >= 0)
                set_end_span(p, p->html_id, t0, t1);
            else err(p, E_UNEXPECTED_END_TAG_AFTER_FRAMESET, t0);
            return;
        }
        if (mode == M_IN_COLGROUP) {
            if (tid == TID_COLGROUP) {
                if (cur_tid(p) == TID_COLGROUP) {
                    pop_until(p, TID_COLGROUP, NULL, t0, t0, t1);
                    p->mode = M_IN_TABLE;
                } else err(p, E_UNEXPECTED_END_TAG, t0);
                return;
            }
            if (tid == TID_COL) { err(p, E_UNEXPECTED_END_TAG, t0); return; }
            if (cur_tid(p) == TID_COLGROUP) {
                int32_t nid = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, nid, t0);
                p->mode = M_IN_TABLE;
                end_html(p, tid, name, t0, t1);
            } else err(p, E_UNEXPECTED_END_TAG, t0);  /* colgroup fragment: ignore */
            return;
        }
        if (mode == M_AFTER_AFTER_BODY) {
            /* html5.py:2581-2584: err, back to in-body, reprocess —
             * only append-safe while no trailing comment is deferred */
            err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
            p->mode = M_IN_BODY;
            end_html(p, tid, name, t0, t1);
            return;
        }
        if (mode == M_AFTER_BODY) {
            if (tid == TID_HTML) {
                if (p->html_id >= 0) {
                    set_end_span(p, p->html_id, t0, t1);
                    p->mode = M_AFTER_AFTER_BODY;
                }
                return;
            }
            err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
            p->mode = M_IN_BODY;
            end_html(p, tid, name, t0, t1);
            return;
        }
    }
    /* IN_BODY / IN_CELL */
    unsigned int fl = tflags(tid);
    if (p->stack_n && !(fl & F_END_BESPOKE) &&
        tag_eq(p, p->stack[p->stack_n - 1], tid, name) &&
        p->st.ns[p->stack[p->stack_n - 1]] == NSP_HTML) {
        int32_t nid = p->stack[p->stack_n - 1];
        pop_node(p);
        if (tid == TID_P) p->open_p--;
        else if (tid == TID_APPLET || tid == TID_MARQUEE || tid == TID_OBJECT)
            afe_clear_to_marker(p);
        set_end_span(p, nid, t0, t1);
        return;
    }
    if (tid == TID_BODY) {
        if (p->body_id >= 0 && node_in_scope(p, p->body_id)) {
            set_end_span(p, p->body_id, t0, t1);
            p->mode = M_AFTER_BODY;
        } else err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
        return;
    }
    if (tid == TID_HTML) {
        if (!(p->body_id >= 0 && node_in_scope(p, p->body_id))) {
            err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
            return;
        }
        p->mode = M_AFTER_BODY;
        int64_t *sp = p->st.span + 6 * p->body_id;
        sp[1] = t0; sp[4] = sp[5] = t0;
        end_html(p, tid, name, t0, t1);
        return;
    }
    if (mode == M_IN_CELL && (tid == TID_TD || tid == TID_TH)) {
        if (!in_table_scope(p, tid)) { err(p, E_UNEXPECTED_END_TAG, t0); return; }
        if (pop_until(p, tid, NULL, t0, t0, t1)) reset_mode(p);
        else err(p, E_UNEXPECTED_END_TAG, t0);
        return;
    }
    if (mode == M_IN_CELL && (tid == TID_TABLE || tid == TID_TR ||
        tid == TID_TBODY || tid == TID_THEAD || tid == TID_TFOOT)) {
        if (!in_table_scope(p, tid)) { err(p, E_UNEXPECTED_END_TAG_IN_TABLE, t0); return; }
        close_cell(p, t0);
        reset_mode(p);
        end_html(p, tid, name, t0, t1);
        return;
    }
    if (tid == TID_P) {
        if (p->open_p > 0 && in_scope(p, TID_P, TID_BUTTON, -1))
            pop_until(p, TID_P, NULL, t0, t0, t1);
        else {
            /* err + synthesize an empty <p> then close it */
            err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
            PyObject *ea = empty_attrs;
            int32_t nid = insert_element(p, TID_P, NULL, ea, t0, t0, 1);
            CHKV(p);
            if (nid >= 0) {
                pop_node(p);
                p->open_p--;
                set_end_span(p, nid, t0, t1);
            }
        }
        return;
    }
    if (fl & F_HEADING) {
        int target = -1;
        for (int k = p->stack_n - 1; k >= 0; k--) {
            int32_t nid = p->stack[k];
            if (p->st.ns[nid] != NSP_HTML) {
                if (is_foreign_boundary(p, nid)) break;
                continue;
            }
            int t = p->st.tid[nid];
            if (t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_HEADING)) { target = t; break; }
            if (t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_SCOPE_BOUNDARY)) break;
        }
        if (target < 0) err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
        else pop_until(p, target, NULL, t0, t0, t1);
        return;
    }
    if (tid == TID_BR) {
        err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
        if (p->afe_n) { reconstruct_formatting(p); CHKV(p); }
        insert_element(p, TID_BR, NULL, empty_attrs, t0, t1, 0);
        return;
    }
    if (tid == TID_APPLET || tid == TID_MARQUEE || tid == TID_OBJECT) {
        if (in_scope(p, tid, -1, -1)) pop_until(p, tid, NULL, t0, t0, t1);
        else err(p, E_UNEXPECTED_END_TAG, t0);
        return;
    }
    if (fl & F_FORMATTING) {
        int r = adoption_agency(p, tid, t0, t1);
        CHKV(p);
        if (r) return;
        /* fall through to any-other-end-tag */
    }
    if (tid == TID_CAPTION) {
        if (pop_until(p, TID_CAPTION, NULL, t0, t0, t1)) reset_mode(p);
        else err(p, E_UNEXPECTED_END_TAG, t0);
        return;
    }
    if (tid == TID_TABLE && in_table_scope(p, TID_CAPTION)) {
        pop_until(p, TID_CAPTION, NULL, t0, -1, -1);
        reset_mode(p);
        end_html(p, tid, name, t0, t1);
        return;
    }
    if (tid == TID_TEMPLATE) { end_template(p, t0, t1); return; }
    if (tid == TID_FORM) {
        int32_t nid = p->form_ptr;
        p->form_ptr = -1;
        if (nid >= 0 && nid_on_stack(p, nid) >= 0 && node_in_scope(p, nid)) {
            while (p->stack_n && p->stack[p->stack_n - 1] != nid) {
                int c = cur_tid(p);
                if (!(c >= 0 && c < N_TAGS && (TAG_FLAGS[c] & F_IMPLIED_END))) break;
                int32_t x = p->stack[p->stack_n - 1];
                pop_node(p);
                close_implied(p, x, t0);
            }
            if (!p->stack_n || p->stack[p->stack_n - 1] != nid) {
                /* err; the form is STILL removed in place (elements
                 * above stay open) */
                err(p, E_UNEXPECTED_END_TAG, t0); CHKV(p);
                stack_remove_at(p, nid_on_stack(p, nid));
            } else pop_node(p);
            set_end_span(p, nid, t0, t1);
            return;
        }
        err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
        return;
    }
    if (tid == TID_LI || tid == TID_DD || tid == TID_DT) {
        int e1x = tid == TID_LI ? TID_UL : -1;
        int e2x = tid == TID_LI ? TID_OL : -1;
        if (in_scope(p, tid, e1x, e2x)) pop_until(p, tid, NULL, t0, t0, t1);
        else err(p, E_UNEXPECTED_END_TAG, t0);
        return;
    }
    if (fl & F_BLOCK_END) {
        if (in_scope(p, tid, -1, -1)) pop_until(p, tid, NULL, t0, t0, t1);
        else err(p, E_UNEXPECTED_END_TAG, t0);
        return;
    }
    if (tid == TID_UNKNOWN && name &&
        PyUnicode_CompareWithASCIIString(name, "dialog") == 0) {
        /* "dialog" sits in the Python engine's _BLOCK_END by NAME but
         * outside the tag vocabulary (its START side deliberately
         * takes the generic _IB_FAST default) — mirror the asymmetry */
        int found = 0;
        for (int k = p->stack_n - 1; k >= 0; k--) {
            int32_t nid = p->stack[k];
            if (tag_eq(p, nid, tid, name)) { found = 1; break; }
            int t = p->st.tid[nid];
            if (t >= 0 && t < N_TAGS && (TAG_FLAGS[t] & F_SCOPE_BOUNDARY)) break;
        }
        if (found) pop_until(p, tid, name, t0, t0, t1);
        else err(p, E_UNEXPECTED_END_TAG, t0);
        return;
    }
    /* _end_any_other (html5.py:2781-2797) */
    for (int k = p->stack_n - 1; k >= 0; k--) {
        int32_t nid = p->stack[k];
        if (tag_eq(p, nid, tid, name) && p->st.ns[nid] == NSP_HTML) {
            pop_until(p, tid, name, t0, t0, t1);
            return;
        }
        if (is_special_nid(p, nid)) { err(p, E_UNEXPECTED_END_TAG, t0); return; }
    }
    err(p, E_UNEXPECTED_END_TAG, t0);  /* ignored */
}

/* ---- start-tag attribute scanner (_scan_start_attrs, html5.py:285) */
/* returns end pos, sets *self_closing / *found_gt; fills attrs dict.
 * duplicate attributes are a parse error → bail. */
static Py_ssize_t scan_start_attrs(P *p, Py_ssize_t pos, PyObject *attrs,
                                   int *self_closing, int *found_gt, int *dups) {
    const unsigned char *s = p->s;
    Py_ssize_t n = p->n;
    *self_closing = 0;
    *found_gt = 0;
    while (pos < n) {
        unsigned char ch = s[pos];
        if (WS_CHAR(ch)) { pos++; continue; }
        if (ch == '>') { pos++; *found_gt = 1; break; }
        if (ch == '/') {
            if (pos + 1 < n && s[pos + 1] == '>') { *self_closing = 1; pos += 2; *found_gt = 1; break; }
            pos++;
            continue;
        }
        /* attribute name: [^ \t\n\f\r/>=]+ or the '=' bogus-name rule;
         * short names (the common case) are lowercased into a stack
         * buffer during the scan, longer ones re-read the recorded
         * source span, so name length is unbounded (round-6: the
         * >255-char-name bail class is removed) */
        Py_ssize_t a0 = pos;
        char namebuf[64];
        Py_ssize_t bn = 0;
        int eq_prefix = (ch == '=');
        if (eq_prefix) { namebuf[bn++] = '='; pos++; }
        Py_ssize_t n0 = pos;
        int name_nul = 0, name_hi = 0;
        while (pos < n) {
            unsigned char c2 = s[pos];
            if (c2 == ' ' || c2 == '\t' || c2 == '\n' || c2 == '\f' || c2 == '\r' ||
                c2 == '/' || c2 == '>' || c2 == '=') break;
            /* non-ASCII key char (round-7): engages — the key is the
             * str.lower()ed source slice (namebuf append skipped) */
            if (c2 >= 0x80) { name_hi = 1; pos++; continue; }
            if (c2 == 0) name_nul = 1;  /* key gets U+FFFD (html5.py:345) */
            if (bn < 64) namebuf[bn++] = (char)(c2 >= 'A' && c2 <= 'Z' ? c2 + 32 : c2);
            pos++;
        }
        if (!eq_prefix && pos == a0) { pos++; continue; }  /* lone stray char */
        Py_ssize_t name_end = pos;
        Py_ssize_t nb = (name_end - n0) + (eq_prefix ? 1 : 0);
        while (pos < n && WS_CHAR(s[pos])) pos++;
        const unsigned char *v = NULL;
        Py_ssize_t vlen = 0;
        if (pos < n && s[pos] == '=') {
            pos++;
            while (pos < n && WS_CHAR(s[pos])) pos++;
            if (pos < n && (s[pos] == '"' || s[pos] == '\'')) {
                unsigned char q = s[pos];
                const unsigned char *endq = memchr(s + pos + 1, q, (size_t)(n - pos - 1));
                Py_ssize_t e = endq ? (Py_ssize_t)(endq - s) : n;
                v = s + pos + 1;
                vlen = e - (pos + 1);
                pos = e + 1 < n ? e + 1 : n;
            } else {
                Py_ssize_t v0 = pos;
                while (pos < n) {
                    unsigned char c2 = s[pos];
                    if (c2 == ' ' || c2 == '\t' || c2 == '\n' || c2 == '\f' || c2 == '\r' || c2 == '>') break;
                    pos++;
                }
                v = s + v0;
                vlen = pos - v0;
            }
        }
        PyObject *key;
        if (name_hi) {
            /* html5.py:320/327: aname = name.lower() (full Unicode),
             * with the '=' bogus-name prefix prepended un-lowered */
            PyObject *low = lowered_name_slice(p, n0, name_end);
            if (!low) return -1;
            if (eq_prefix) {
                key = PyUnicode_Concat(eq_str, low);
                Py_DECREF(low);
                if (!key) { PyErr_Clear(); BAILI(p); }
            } else {
                key = low;
            }
        } else {
        key = PyUnicode_New(nb, 127);
        if (!key) BAILI(p);
        if (nb == bn) {  /* fit in the scan buffer (common case) */
            memcpy(PyUnicode_1BYTE_DATA(key), namebuf, (size_t)nb);
        } else {
            Py_UCS1 *kd = PyUnicode_1BYTE_DATA(key);
            Py_ssize_t w = 0;
            if (eq_prefix) kd[w++] = '=';
            for (Py_ssize_t q = n0; q < name_end; q++) {
                unsigned char c2 = s[q];
                kd[w++] = (Py_UCS1)(c2 >= 'A' && c2 <= 'Z' ? c2 + 32 : c2);
            }
        }
        }
        if (name_nul) {  /* NUL → U+FFFD in the key (html5.py:345-346);
                          * replacement happens BEFORE the dup check,
                          * matching the Python scanner's order */
            PyObject *rk = PyUnicode_Replace(key, nul_str, fffd_str, -1);
            Py_DECREF(key);
            if (!rk) { PyErr_Clear(); BAILI(p); }
            key = rk;
        }
        int has = PyDict_Contains(attrs, key);
        if (has < 0) { Py_DECREF(key); PyErr_Clear(); BAILI(p); }
        if (has) { Py_DECREF(key); (*dups)++; continue; }  /* first wins (parse error) */
        PyObject *val = v ? decode_attr(p, (Py_ssize_t)(v - p->s), vlen)
                          : (Py_INCREF(empty_str), empty_str);
        if (!val) { Py_DECREF(key); BAILI(p); }
        if (v && vlen && p->doc_has_nul && memchr(v, 0, (size_t)vlen)) {
            /* NUL → U+FFFD in the value (html5.py:347-348).  The
             * Python scanner replaces BEFORE entity decode; decode-
             * then-replace is equivalent because neither NUL nor
             * U+FFFD can start, continue, or terminate an entity
             * match differently (both are non-alphanumeric, non-'='
             * stop characters) and no entity decodes TO a NUL
             * (&#0; yields U+FFFD already). */
            PyObject *rv = PyUnicode_Replace(val, nul_str, fffd_str, -1);
            Py_DECREF(val);
            if (!rv) { PyErr_Clear(); Py_DECREF(key); BAILI(p); }
            val = rv;
        }
        if (PyDict_SetItem(attrs, key, val) < 0) { Py_DECREF(key); Py_DECREF(val); PyErr_Clear(); BAILI(p); }
        Py_DECREF(key);
        Py_DECREF(val);
    }
    return pos;
}

/* ---- EOF (html5.py:2943-2959 handle_eof + deferred comments) ------ */
static void handle_eof(P *p) {
    if (p->pend_n) { flush_tt(p); CHKV(p); }
    int64_t pos = p->n;
    if (p->html_id < 0) { ensure_html(p, pos); CHKV(p); }
    if (p->head_id < 0) { ensure_head(p, pos); CHKV(p); pop_head(p, pos, -1, -1); }
    if (p->body_id < 0 && p->mode != M_IN_FRAMESET && p->mode != M_AFTER_FRAMESET) {
        ensure_body(p, pos); CHKV(p);
    }
    while (p->stack_n) pop_node(p);
}


/* _scan_end_tag_tail (html5.py:356-399): tokenize-and-discard the
 * attribute region of an end tag, quote-aware; returns index past the
 * closing '>' or -1 on EOF-in-tag; sets *had when attrs were seen. */
static Py_ssize_t scan_end_tag_tail(P *p, Py_ssize_t pos, int *had) {
    const unsigned char *s = p->s;
    Py_ssize_t n = p->n;
    *had = 0;
    while (pos < n) {
        unsigned char ch = s[pos];
        if (WS_CHAR(ch) || ch == '/') { pos++; continue; }
        if (ch == '>') return pos + 1;
        Py_ssize_t a0 = pos;
        if (ch == '=') {
            pos++;
            while (pos < n) {
                unsigned char c2 = s[pos];
                if (c2 == ' ' || c2 == '\t' || c2 == '\n' || c2 == '\f' ||
                    c2 == '\r' || c2 == '/' || c2 == '>' || c2 == '=') break;
                pos++;  /* NUL is an ordinary discarded-name char */
            }
            *had = 1;
        } else {
            while (pos < n) {
                unsigned char c2 = s[pos];
                if (c2 == ' ' || c2 == '\t' || c2 == '\n' || c2 == '\f' ||
                    c2 == '\r' || c2 == '/' || c2 == '>' || c2 == '=') break;
                pos++;  /* NUL is an ordinary discarded-name char */
            }
            if (pos == a0) { pos++; continue; }
            *had = 1;
        }
        while (pos < n && WS_CHAR(s[pos])) pos++;
        if (pos < n && s[pos] == '=') {
            pos++;
            while (pos < n && WS_CHAR(s[pos])) pos++;
            if (pos < n && (s[pos] == '"' || s[pos] == '\'')) {
                const unsigned char *e = memchr(s + pos + 1, s[pos], (size_t)(n - pos - 1));
                if (!e) return -1;
                pos = (e - s) + 1;
            } else {
                while (pos < n) {
                    unsigned char c2 = s[pos];
                    if (c2 == ' ' || c2 == '\t' || c2 == '\n' || c2 == '\f' ||
                        c2 == '\r' || c2 == '>') break;
                    pos++;
                }
            }
        }
    }
    return -1;
}

/* ---- main tokenizer loop (parse_html, html5.py:3155-3395) --------- */
static void dispatch_chars(P *p, int64_t a, int64_t b) {
    if (p->has_foreign && use_foreign(p, UF_CHARS, -1, NULL)) {
        foreign_chars(p, a, b);
        return;
    }
    chars_html(p, a, b);
}

static void run_parse(P *p) {
    const unsigned char *s = p->s;
    Py_ssize_t n = p->n, i = 0;
    while (i < n && !p->bail) {
        const unsigned char *ltp = memchr(s + i, '<', (size_t)(n - i));
        if (!ltp) { dispatch_chars(p, i, n); break; }
        Py_ssize_t lt = ltp - s;
        if (lt > i) { dispatch_chars(p, i, lt); if (p->bail) break; }
        if (lt + 1 >= n) { dispatch_chars(p, lt, n); break; }
        unsigned char c = s[lt + 1];
        if (c == '/') {
            unsigned char c2 = lt + 2 < n ? s[lt + 2] : 0;
            if ((c2 | 32) >= 'a' && (c2 | 32) <= 'z') {
                /* end tag: name then only [ws/]* '>' stays clean */
                Py_ssize_t j = lt + 2;
                /* name span is recorded and the lookup buffer only
                 * needs the longest KNOWN tag; longer names are
                 * TID_UNKNOWN built from the source (round-6: the
                 * >255-char-name bail class is removed) */
                char nbuf[64];
                Py_ssize_t nb = 0, nm0 = j;
                int nm_nul = 0, nm_hi = 0;
                while (j < n) {
                    unsigned char cc = s[j];
                    if (cc == '\t' || cc == '\n' || cc == '\f' || cc == '\r' ||
                        cc == ' ' || cc == '/' || cc == '>') break;
                    /* non-ASCII name char (round-7): engages —
                     * TID_UNKNOWN + an ASCII-lowered source-slice name
                     * (the nbuf append is skipped so nmlen != nb) */
                    if (cc >= 0x80) { nm_hi = 1; j++; continue; }
                    /* NUL is a literal name char (html5.py keeps it:
                     * _TAG_NAME_RE excludes only ws//>/) → TID_UNKNOWN;
                     * tag_lookup is strncmp-based so it must not see it */
                    if (cc == 0) nm_nul = 1;
                    if (nb < 63) nbuf[nb++] = (char)(cc >= 'A' && cc <= 'Z' ? cc + 32 : cc);
                    j++;
                }
                if (p->bail) break;
                Py_ssize_t nmlen = j - nm0;
                Py_ssize_t j0 = j;
                while (j < n && (WS_CHAR(s[j]) || s[j] == '/')) j++;
                if (j < n && s[j] == '>') j++;  /* fast '</name>' form */
                else {
                    /* end tag with attribute junk (html5.py:3193-3204) */
                    int had = 0;
                    Py_ssize_t endpos = scan_end_tag_tail(p, j0, &had);
                    if (endpos < 0) {
                        err(p, E_EOF_IN_END_TAG, lt);
                        break;  /* token ignored at EOF */
                    }
                    if (had) { err(p, E_END_TAG_WITH_ATTRIBUTES, lt); if (p->bail) break; }
                    j = endpos;
                }
                int tid = (nmlen == nb && !nm_nul && !nm_hi) ? tag_lookup(nbuf, nb) : TID_UNKNOWN;
                PyObject *name = NULL;
                if (tid == TID_UNKNOWN) {
                    if (nm_hi) {
                        name = lowered_name_slice(p, nm0, nm0 + nmlen);
                        if (!name) break;
                    } else {
                    name = PyUnicode_New(nmlen, 127);
                    if (!name) { p->bail = 1; break; }
                    Py_UCS1 *nd = PyUnicode_1BYTE_DATA(name);
                    if (nmlen == nb) memcpy(nd, nbuf, (size_t)nb);
                    else for (Py_ssize_t q = 0; q < nmlen; q++) {
                        unsigned char cc = s[nm0 + q];
                        nd[q] = (Py_UCS1)(cc >= 'A' && cc <= 'Z' ? cc + 32 : cc);
                    }
                    }
                }
                if (p->has_foreign && use_foreign(p, UF_END, tid, name))
                    foreign_end(p, tid, name, lt, j);
                else
                    end_html(p, tid, name, lt, j);
                Py_XDECREF(name);
                i = j;
                continue;
            }
            if (lt + 2 >= n) {
                /* '</' at EOF: parse error, emitted as TEXT (html5.py:3213) */
                err(p, E_EOF_BEFORE_TAG_NAME, lt);
                if (p->bail) break;
                dispatch_chars(p, lt, n);
                break;
            }
            if (c2 == '>') {  /* '</>' ignored entirely (html5.py:3219) */
                err(p, E_EMPTY_END_TAG, lt);
                if (p->bail) break;
                i = lt + 3;
                continue;
            }
            {   /* bogus comment (no parse error recorded) */
                const unsigned char *gtp = memchr(s + lt + 2, '>', (size_t)(n - lt - 2));
                if (!gtp) { handle_comment(p, lt + 2, n, lt, n); break; }
                Py_ssize_t gt = gtp - s;
                handle_comment(p, lt + 2, gt, lt, gt + 1);
                i = gt + 1;
                continue;
            }
        }
        if (c == '!') {
            if (n - lt >= 4 && memcmp(s + lt, "<!--", 4) == 0) {
                if (lt + 4 < n && s[lt + 4] == '>') {
                    /* '<!-->': parse error, empty comment (html5.py:3224) */
                    err(p, E_ABRUPT_EMPTY_COMMENT, lt);
                    if (p->bail) break;
                    handle_comment(p, lt + 4, lt + 4, lt, lt + 5);
                    i = lt + 5;
                    continue;
                }
                if (lt + 5 < n && s[lt + 4] == '-' && s[lt + 5] == '>') {
                    /* '<!--->' (html5.py:3229) */
                    err(p, E_ABRUPT_EMPTY_COMMENT, lt);
                    if (p->bail) break;
                    handle_comment(p, lt + 4, lt + 4, lt, lt + 6);
                    i = lt + 6;
                    continue;
                }
                Py_ssize_t close = -1, bang = -1;
                for (Py_ssize_t k = lt + 4; k + 2 < n; k++) {
                    const unsigned char *d = memchr(s + k, '-', (size_t)(n - k - 2));
                    if (!d) break;
                    k = d - s;
                    if (s[k + 1] == '-') {
                        if (s[k + 2] == '>') { close = k; break; }
                        if (k + 3 < n && s[k + 2] == '!' && s[k + 3] == '>') { bang = k; break; }
                    }
                }
                if (bang >= 0 && (close < 0 || bang < close)) {
                    /* '--!>' also closes the comment (html5.py:3239) */
                    err(p, E_INCORRECTLY_CLOSED_COMMENT, lt);
                    if (p->bail) break;
                    handle_comment(p, lt + 4, bang, lt, bang + 4);
                    i = bang + 4;
                    continue;
                }
                if (close < 0) {
                    Py_ssize_t e = n;  /* EOF in comment: trim pending dashes */
                    if (e - (lt + 4) >= 2 && s[e - 1] == '-' && s[e - 2] == '-') e -= 2;
                    else if (e - (lt + 4) >= 1 && s[e - 1] == '-') e -= 1;
                    handle_comment(p, lt + 4, e, lt, n);
                    break;
                }
                handle_comment(p, lt + 4, close, lt, close + 3);
                i = close + 3;
                continue;
            }
            if (n - lt >= 9 && memcmp(s + lt, "<![CDATA[", 9) == 0 &&
                p->stack_n && p->st.ns[p->stack[p->stack_n - 1]] != NSP_HTML) {
                const unsigned char *cl = NULL;
                for (Py_ssize_t k = lt + 9; k + 2 < n; k++) {
                    const unsigned char *d = memchr(s + k, ']', (size_t)(n - k - 2));
                    if (!d) break;
                    k = d - s;
                    if (s[k + 1] == ']' && s[k + 2] == '>') { cl = d; break; }
                }
                if (p->pend_n) { flush_tt(p); if (p->bail) break; }
                p->skip_newline = 0;
                Py_ssize_t e = cl ? (cl - s) : n;
                Py_ssize_t t1c = cl ? (cl - s) + 3 : n;
                PyObject *txt = ascii_slice(p, lt + 9, e);
                int32_t nid = new_node(p, T_CDATA, -1, NULL, txt, NULL, lt, t1c, 0, 0, 0, 0);
                if (nid < 0) break;
                attach(p, nid, cur(p));
                if (!cl) break;
                i = t1c;
                continue;
            }
            if (n - lt >= 9 &&
                (s[lt+2]|32)=='d' && (s[lt+3]|32)=='o' && (s[lt+4]|32)=='c' &&
                (s[lt+5]|32)=='t' && (s[lt+6]|32)=='y' && (s[lt+7]|32)=='p' &&
                (s[lt+8]|32)=='e') {
                const unsigned char *gtp = memchr(s + lt + 2, '>', (size_t)(n - lt - 2));
                if (!gtp) break;  /* EOF: doctype token dropped, no error */
                Py_ssize_t gt = gtp - s;
                /* NUL in the doctype body is an ordinary char for the
                 * quirks scan (html5.py: name "ht\0ml" != "html") */
                handle_doctype(p, !doctype_quirks(s, lt + 9, gt), lt);
                if (p->bail) break;
                i = gt + 1;
                continue;
            }
            {   /* bogus comment from '<!' (no parse error) */
                const unsigned char *gtp = memchr(s + lt + 2, '>', (size_t)(n - lt - 2));
                if (!gtp) { handle_comment(p, lt + 2, n, lt, n); break; }
                Py_ssize_t gt = gtp - s;
                handle_comment(p, lt + 2, gt, lt, gt + 1);
                i = gt + 1;
                continue;
            }
        }
        if (c == '?') {
            /* processing instruction → bogus comment (parse error),
             * html5.py:3272-3280: text INCLUDES the '?' */
            const unsigned char *gtp = memchr(s + lt + 2, '>', (size_t)(n - lt - 2));
            err(p, E_PROCESSING_INSTRUCTION, lt);
            if (p->bail) break;
            if (!gtp) { handle_comment(p, lt + 1, n, lt, n); break; }
            Py_ssize_t gt = gtp - s;
            handle_comment(p, lt + 1, gt, lt, gt + 1);
            i = gt + 1;
            continue;
        }
        if (!((c | 32) >= 'a' && (c | 32) <= 'z')) {
            dispatch_chars(p, lt, lt + 1);  /* literal '<' */
            i = lt + 1;
            continue;
        }
        /* start tag (name length unbounded; see the end-tag scanner) */
        Py_ssize_t j = lt + 1;
        char nbuf[64];
        Py_ssize_t nb = 0, nm0 = j;
        int nm_nul = 0, nm_hi = 0;
        while (j < n) {
            unsigned char cc = s[j];
            if (cc == '\t' || cc == '\n' || cc == '\f' || cc == '\r' ||
                cc == ' ' || cc == '/' || cc == '>') break;
            /* non-ASCII name char engages (round-7, see end-tag scan) */
            if (cc >= 0x80) { nm_hi = 1; j++; continue; }
            /* NUL stays a literal name char (see the end-tag scanner) */
            if (cc == 0) nm_nul = 1;
            if (nb < 63) nbuf[nb++] = (char)(cc >= 'A' && cc <= 'Z' ? cc + 32 : cc);
            j++;
        }
        if (p->bail) break;
        Py_ssize_t nmlen = j - nm0;
        int tid = (nmlen == nb && !nm_nul && !nm_hi) ? tag_lookup(nbuf, nb) : TID_UNKNOWN;
        PyObject *name = NULL;
        if (tid == TID_UNKNOWN) {
            if (nm_hi) {
                name = lowered_name_slice(p, nm0, nm0 + nmlen);
                if (!name) break;
            } else {
            name = PyUnicode_New(nmlen, 127);
            if (!name) { p->bail = 1; break; }
            Py_UCS1 *nd = PyUnicode_1BYTE_DATA(name);
            if (nmlen == nb) memcpy(nd, nbuf, (size_t)nb);
            else for (Py_ssize_t q = 0; q < nmlen; q++) {
                unsigned char cc = s[nm0 + q];
                nd[q] = (Py_UCS1)(cc >= 'A' && cc <= 'Z' ? cc + 32 : cc);
            }
            }
        }
        PyObject *attrs = PyDict_New();
        if (!attrs) { Py_XDECREF(name); p->bail = 1; break; }
        int self_closing = 0, found_gt = 0, dups = 0;
        Py_ssize_t pos = scan_start_attrs(p, j, attrs, &self_closing, &found_gt, &dups);
        if (p->bail) { Py_XDECREF(name); Py_DECREF(attrs); break; }
        for (int dk = 0; dk < dups; dk++) err(p, E_DUPLICATE_ATTRIBUTE, lt);
        if (!found_gt) {
            /* EOF in tag: parse error, token ignored (html5.py:3310) */
            err(p, E_EOF_IN_TAG, lt);
            Py_XDECREF(name); Py_DECREF(attrs);
            break;
        }
        if (p->bail) { Py_XDECREF(name); Py_DECREF(attrs); break; }
        int cm;
        if (p->has_foreign && use_foreign(p, UF_START, tid, name)) {
            cm = foreign_start(p, tid, name, attrs, self_closing, lt, pos);
        } else if (p->mode == M_IN_BODY) {
            p->skip_newline = 0;
            cm = start_in_body(p, tid, name, attrs, self_closing, lt, pos);
        } else {
            cm = handle_start(p, tid, name, attrs, self_closing, lt, pos);
        }
        i = pos;
        if (p->bail) { Py_XDECREF(name); Py_DECREF(attrs); break; }
        if (cm == CM_PLAINTEXT) {
            /* PLAINTEXT state never exits; chars are ordinary in-body
             * character tokens, which RECONSTRUCT formatting but are
             * emitted RAW (html5.py:3337-3344) */
            if (pos < n) {
                if (p->afe_n) { reconstruct_formatting(p); }
                if (!p->bail)
                    insert_text(p, ascii_slice(p, pos, n), pos, n, 1, 1);
            }
            Py_XDECREF(name);
            Py_DECREF(attrs);
            break;
        }
        if (cm == CM_RAWTEXT || cm == CM_RCDATA) {
            /* rawtext/RCDATA content until the matching close tag
             * (html5.py:3345-3390) */
            Py_ssize_t mstart = -1, mend = -1;
            for (Py_ssize_t k = i; k < n; k++) {
                const unsigned char *ltp2 = memchr(s + k, '<', (size_t)(n - k));
                if (!ltp2) break;
                k = ltp2 - s;
                if (k + 1 >= n || s[k + 1] != '/') continue;
                if (k + 2 + nb > n) continue;
                Py_ssize_t q = 0;
                for (; q < nb; q++) {
                    unsigned char cc = s[k + 2 + q];
                    if ((char)(cc >= 'A' && cc <= 'Z' ? cc + 32 : cc) != nbuf[q]) break;
                }
                if (q < nb) continue;
                unsigned char after = k + 2 + nb < n ? s[k + 2 + nb] : 0;
                if (k + 2 + nb == n || WS_CHAR(after) || after == '/' || after == '>') {
                    mstart = k;
                    mend = k + 2 + nb;
                    break;
                }
            }
            if (mstart >= 0) {
                Py_ssize_t a = i;
                if (a < mstart && p->skip_newline) {
                    p->skip_newline = 0;
                    if (s[a] == '\n') a++;
                }
                if (a < mstart) {
                    PyObject *decoded = cm == CM_RCDATA ? decode_text(p, a, mstart)
                                                        : ascii_slice(p, a, mstart);
                    /* span keeps the PRE-strip start (html5.py:3350) */
                    insert_text(p, decoded, i, mstart, 1, 1);
                    if (p->bail) { Py_XDECREF(name); Py_DECREF(attrs); break; }
                }
                /* end-tag tail (html5.py:3356-3362): EOF consumes the
                 * rest with NO error; attrs are a parse error */
                int had = 0;
                Py_ssize_t endpos = scan_end_tag_tail(p, mend, &had);
                if (endpos < 0) endpos = n;
                else if (had) {
                    err(p, E_END_TAG_WITH_ATTRIBUTES, mstart);
                    if (p->bail) { Py_XDECREF(name); Py_DECREF(attrs); break; }
                }
                if (p->mode == M_IN_SELECT && p->stack_n &&
                    tag_eq(p, p->stack[p->stack_n - 1], tid, name)) {
                    pop_until(p, tid, name, mstart, mstart, endpos);
                } else {
                    end_html(p, tid, name, mstart, endpos);
                }
                i = endpos;
            } else {
                Py_ssize_t a = i;
                if (a < n && p->skip_newline) {
                    p->skip_newline = 0;
                    if (s[a] == '\n') a++;
                }
                if (a < n) {
                    PyObject *decoded = cm == CM_RCDATA ? decode_text(p, a, n)
                                                        : ascii_slice(p, a, n);
                    insert_text(p, decoded, a, n, 1, 1);
                }
                i = n;
            }
        }
        Py_XDECREF(name);
        Py_DECREF(attrs);
        if (p->bail) break;
    }
    if (!p->bail) handle_eof(p);
}

/* ---- result assembly / lifecycle ---------------------------------- */
static void p_free(P *p) {
    Store *st = &p->st;
    for (Py_ssize_t i = 0; i < st->count; i++) {
        Py_XDECREF(st->tag[i]);
        Py_XDECREF(st->text[i]);
        Py_XDECREF(st->attrs[i]);
    }
    free(st->type); free(st->ns); free(st->tid); free(st->parent); free(st->iwp);
    free(st->first_child); free(st->last_child); free(st->next_sib);
    free(st->span);
    free(st->tag); free(st->text); free(st->attrs);
    while (p->stack_n) pop_node(p);
    free(p->stack);
    free(p->stack_name);
    free(p->afe);
    free(p->tmpl_modes);
    if (p->pend_txt)
        for (int k = 0; k < p->pend_cap; k++) Py_CLEAR(p->pend_txt[k]);
    free(p->pend_txt);
    if (p->pend_ucs)
        for (int k = 0; k < p->pend_cap; k++) Py_CLEAR(p->pend_ucs[k]);
    free(p->pend_ucs);
    free(p->pend);
    free(p->scratch);
    free(p->err_code);
    free(p->err_pos);
}

/* column builders: numpy arrays materialized directly in C (round-6:
 * the former bytearray + Python-side np.frombuffer / list -> object-
 * array assembly cost ~42us/doc on a 206-node page, ~85% of it the
 * object-list copies; building the final ndarrays here cuts the
 * Python side to the NodeTable constructor). `order` (preorder
 * permutation of creation ids) is applied during the copy. */
static PyObject *npy_fixed(const void *src, Py_ssize_t cnt, int typenum,
                           size_t esz, const int32_t *order) {
    npy_intp d = (npy_intp)cnt;
    PyObject *a = PyArray_SimpleNew(1, &d, typenum);
    if (!a) return NULL;
    char *dst = (char *)PyArray_DATA((PyArrayObject *)a);
    if (!order) {
        memcpy(dst, src, (size_t)cnt * esz);
    } else {
        const char *s8 = (const char *)src;
        for (Py_ssize_t i = 0; i < cnt; i++)
            memcpy(dst + (size_t)i * esz, s8 + (size_t)order[i] * esz, esz);
    }
    return a;
}

static PyObject *npy_span_col(const int64_t *span, Py_ssize_t cnt, int j,
                              const int32_t *order) {
    npy_intp d = (npy_intp)cnt;
    PyObject *a = PyArray_SimpleNew(1, &d, NPY_INT64);
    if (!a) return NULL;
    int64_t *dst = (int64_t *)PyArray_DATA((PyArrayObject *)a);
    for (Py_ssize_t i = 0; i < cnt; i++)
        dst[i] = span[6 * (Py_ssize_t)(order ? order[i] : (int32_t)i) + j];
    return a;
}

/* compute the preorder view of the store: parent_new/iwp/subend are
 * indexed by FINAL preorder ids; *order_out (NULL when creation order
 * already is preorder) maps preorder id -> creation id.  *cnt_out may
 * shrink when the DFS drops nodes unreachable from the document (the
 * frameset-takeover discarded body subtree).  Returns 0 / -1 (OOM). */
static int compute_preorder(P *p, int32_t **order_out, int32_t **parent_out,
                            int32_t **iwp_out, int32_t **subend_out,
                            Py_ssize_t *cnt_out) {
    Store *st = &p->st;
    Py_ssize_t cnt = st->count;
    int32_t *order = NULL;
    int32_t *parent_new = malloc((size_t)cnt * sizeof(int32_t));
    int32_t *iwp = malloc((size_t)cnt * sizeof(int32_t));
    int32_t *subend = malloc((size_t)cnt * sizeof(int32_t));
    if (!parent_new || !iwp || !subend) goto nomem;
    if (p->preorder_ok) {
        /* creation order IS preorder: iwp from one child-list pass,
         * subtree_end from a reverse last-child pass (html5.py:2963) */
        for (Py_ssize_t i = 0; i < cnt; i++) {
            int32_t j = 0;
            for (int32_t c = st->first_child[i]; c >= 0; c = st->next_sib[c])
                iwp[c] = j++;
        }
        iwp[0] = 0;
        memcpy(parent_new, st->parent, (size_t)cnt * sizeof(int32_t));
        for (Py_ssize_t i = cnt - 1; i >= 0; i--)
            subend[i] = st->last_child[i] >= 0 ? subend[st->last_child[i]] : (int32_t)(i + 1);
    } else {
        /* general path: DFS flatten to preorder (html5.py:2991-3032). */
        int32_t *new_id = malloc((size_t)cnt * sizeof(int32_t));
        struct frame { int32_t bid, pnew, k; uint8_t done; } *fstk =
            malloc((size_t)(2 * cnt + 2) * sizeof(struct frame));
        int32_t *kids = malloc((size_t)cnt * sizeof(int32_t));
        order = malloc((size_t)cnt * sizeof(int32_t));
        if (!new_id || !fstk || !kids || !order) {
            free(new_id); free(fstk); free(kids); free(order);
            goto nomem;
        }
        Py_ssize_t sp = 0, idx = 0;
        fstk[sp++] = (struct frame){0, -1, 0, 0};
        while (sp) {
            struct frame f = fstk[--sp];
            if (f.done) { subend[new_id[f.bid]] = (int32_t)idx; continue; }
            int32_t nid = (int32_t)idx++;
            order[nid] = f.bid;
            new_id[f.bid] = nid;
            parent_new[nid] = f.pnew;
            iwp[nid] = f.k;
            fstk[sp++] = (struct frame){f.bid, f.pnew, f.k, 1};
            int32_t nk = 0;
            for (int32_t c = st->first_child[f.bid]; c >= 0; c = st->next_sib[c])
                kids[nk++] = c;
            for (int32_t j = nk - 1; j >= 0; j--)
                fstk[sp++] = (struct frame){kids[j], nid, j, 0};
        }
        free(new_id);
        free(fstk);
        free(kids);
        /* nodes unreachable from the document are DROPPED, exactly
         * like the Python engine's DFS finalize (html5.py:2992-3023) */
        cnt = idx;
    }
    *order_out = order;
    *parent_out = parent_new;
    *iwp_out = iwp;
    *subend_out = subend;
    *cnt_out = cnt;
    return 0;
nomem:
    free(parent_new); free(iwp); free(subend);
    return -1;
}

static PyObject *build_result(P *p, PyObject *src_obj /* new ref or NULL */) {
    Store *st = &p->st;
    Py_ssize_t cnt = st->count;
    int32_t *order = NULL, *parent_new = NULL, *iwp = NULL, *subend = NULL;
    PyObject *res = NULL;
    enum { C_TYPE, C_NS, C_TID, C_PARENT, C_IWP, C_SUB,
           C_S0, C_S1, C_T0, C_T1, C_E0, C_E1,
           C_TAGS, C_TEXTS, C_ATTRS, C_N };
    PyObject *cols[C_N] = {0};
    if (compute_preorder(p, &order, &parent_new, &iwp, &subend, &cnt) < 0)
        goto nomem;
    cols[C_TYPE] = npy_fixed(st->type, cnt, NPY_INT8, sizeof(int8_t), order);
    cols[C_NS] = npy_fixed(st->ns, cnt, NPY_INT8, sizeof(int8_t), order);
    cols[C_TID] = npy_fixed(st->tid, cnt, NPY_INT16, sizeof(int16_t), order);
    /* parent/iwp/subend are computed in final preorder ids already */
    cols[C_PARENT] = npy_fixed(parent_new, cnt, NPY_INT32, sizeof(int32_t), NULL);
    cols[C_IWP] = npy_fixed(iwp, cnt, NPY_INT32, sizeof(int32_t), NULL);
    cols[C_SUB] = npy_fixed(subend, cnt, NPY_INT32, sizeof(int32_t), NULL);
    for (int j = 0; j < 6; j++)
        cols[C_S0 + j] = npy_span_col(st->span, cnt, j, order);
    for (int c = C_TAGS; c <= C_ATTRS; c++) {
        npy_intp d = (npy_intp)cnt;
        cols[c] = PyArray_SimpleNew(1, &d, NPY_OBJECT);
    }
    for (int c = 0; c < C_N; c++)
        if (!cols[c]) goto fail;
    {
        /* fill the three object columns (slots of a fresh NPY_OBJECT
         * array are NULL; every slot is set before any failable call) */
        PyObject **tg_d = (PyObject **)PyArray_DATA((PyArrayObject *)cols[C_TAGS]);
        PyObject **tx_d = (PyObject **)PyArray_DATA((PyArrayObject *)cols[C_TEXTS]);
        PyObject **at_d = (PyObject **)PyArray_DATA((PyArrayObject *)cols[C_ATTRS]);
        for (Py_ssize_t i = 0; i < cnt; i++) {
            Py_ssize_t b = order ? order[i] : i;
            PyObject *tg;
            if (st->tag[b]) tg = st->tag[b];
            else if (st->tid[b] >= 0 && st->tid[b] < N_TAGS) tg = tag_objs[st->tid[b]];
            else tg = empty_str;
            Py_INCREF(tg);
            tg_d[i] = tg;
            PyObject *tx = st->text[b] ? st->text[b] : empty_str;
            Py_INCREF(tx);
            tx_d[i] = tx;
            PyObject *at = st->attrs[b] ? st->attrs[b] : Py_None;
            Py_INCREF(at);
            at_d[i] = at;
        }
    }
    {
        PyObject *errs = PyList_New(p->err_n);
        if (!errs) goto fail;
        for (Py_ssize_t k = 0; k < p->err_n; k++) {
            PyObject *t = Py_BuildValue("(sn)", ERR_CODE_STRS[p->err_code[k]],
                                        (Py_ssize_t)p->err_pos[k]);
            if (!t) { Py_DECREF(errs); goto fail; }
            PyList_SET_ITEM(errs, k, t);
        }
        res = Py_BuildValue("(nNNNNNNNNNNNNNNNiNO)", cnt,
                            cols[C_TYPE], cols[C_NS], cols[C_TID],
                            cols[C_PARENT], cols[C_IWP], cols[C_SUB],
                            cols[C_S0], cols[C_S1], cols[C_T0], cols[C_T1],
                            cols[C_E0], cols[C_E1],
                            cols[C_TAGS], cols[C_TEXTS], cols[C_ATTRS],
                            p->quirks, errs, src_obj ? src_obj : Py_None);
        if (!res) goto fail_after_steal;
    }
    free(order); free(parent_new); free(iwp); free(subend);
    Py_XDECREF(src_obj);
    return res;
nomem:
    free(order); free(parent_new); free(iwp); free(subend);
    Py_XDECREF(src_obj);
    return PyErr_NoMemory();
fail:
    for (int c = 0; c < C_N; c++) Py_XDECREF(cols[c]);
fail_after_steal:
    /* Py_BuildValue "N" args already inserted were released with the
     * partial tuple; unconsumed ones leak — acceptable on this
     * OOM-only path (decrefing here could double-free the inserted
     * prefix) */
    free(order); free(parent_new); free(iwp); free(subend);
    Py_XDECREF(src_obj);
    return NULL;
}

/* ------------------------------------------------------------------ *
 * cextract_batch — parse + main-text kernel for a whole Arrow binary
 * column in ONE call (operators/extract.py main_text_batch).
 *
 * It takes the Arrow values buffer + offsets buffer directly, loops
 * documents in C, and accumulates BATCH-level output buffers — text
 * and parent-tag columns as single UTF-8 data blobs with int32 offset
 * vectors (exactly Arrow's string layout, so the caller wraps them
 * zero-copy via StringArray.from_buffers), span columns as contiguous
 * arrays with a per-document count vector.  The engaged path builds
 * ZERO per-document Python objects.
 *
 * Pure-ASCII CR-free documents are parsed in place; CRLF pages and
 * any other byte sequence (multibyte UTF-8, invalid UTF-8) go through
 * an in-C decode + newline normalization (prep_decode): placeholder
 * parse buffer, str readback, and an exact char→byte offset map
 * feeding the span byte columns.  Documents the engine cannot take
 * (its designed bail classes only — colgroup/frameset-content NUL and
 * the NUL-stripped ws-charref intersection) get zero-length slots in
 * every per-doc output and their indices are returned; the caller
 * computes exactly those documents on the reference Python path and
 * splices.
 *
 * Arguments: (values_buf, offsets_buf, offsets_are_64: int,
 *             boiler_ids_i16_bytes)
 * Returns a 14-tuple
 *   (txt_data: bytes, txt_off: int32[n+1],
 *    sp_id: int32[S], sp_s0: int64[S], sp_s1: int64[S],
 *    sp_b0: int64[S], sp_b1: int64[S],
 *    sp_cnt: int32[n],
 *    ptg_data: bytes, ptg_off: int32[S+1],
 *    n_nodes: int32[n], n_errors: int32[n],
 *    tot_us: int64[n], bail_idx: int32[B])
 * or None when the batch output would overflow int32 string offsets
 * (> 1 GiB of text in one Arrow batch) — the caller then runs the
 * whole batch on the Python reference.                               */

typedef struct { char *buf; Py_ssize_t n, cap; } GrowBuf;

static int gb_append(GrowBuf *g, const char *src, Py_ssize_t len) {
    if (g->n + len > g->cap) {
        Py_ssize_t nc = g->cap ? g->cap : 4096;
        while (nc < g->n + len) nc *= 2;
        char *nb = realloc(g->buf, (size_t)nc);
        if (!nb) return 0;
        g->buf = nb;
        g->cap = nc;
    }
    memcpy(g->buf + g->n, src, (size_t)len);
    g->n += len;
    return 1;
}

/* append a str's UTF-8 bytes; ASCII strings (the overwhelming case on
 * the bytes-only engaged path) copy straight from the compact 1-byte
 * representation, U+FFFD-bearing NUL-doc strings go through the cached
 * AsUTF8 encoding */
static int gb_append_str(GrowBuf *g, PyObject *s) {
    if (PyUnicode_IS_ASCII(s))
        return gb_append(g, (const char *)PyUnicode_1BYTE_DATA(s),
                         PyUnicode_GET_LENGTH(s));
    Py_ssize_t len;
    const char *u = PyUnicode_AsUTF8AndSize(s, &len);
    return u != NULL && gb_append(g, u, len);
}

static PyObject *np_copy1d(const void *src, Py_ssize_t n, int typenum, size_t isz) {
    npy_intp d = (npy_intp)n;
    PyObject *a = PyArray_SimpleNew(1, &d, typenum);
    if (a && n) memcpy(PyArray_DATA((PyArrayObject *)a), src, (size_t)n * isz);
    return a;
}

/* Input prep beyond the pure-ASCII/CR-free fast class (round-6 late;
 * round-7: invalid UTF-8 engages too): one pass decodes UTF-8 exactly
 * as Python's errors='replace' (a byte-at-a-time simulation of
 * CPython's incremental decoder: maximal-subpart U+FFFD substitution,
 * pending-prefix reject + same-feed reprocess), then collapses
 * \r\n / \r to \n at the CHAR level (WHATWG input-stream
 * preprocessing over the decoded string, = html5.py's str.replace),
 * and builds
 *   - the parse buffer (1 byte per decoded char; chars > 0x7F become
 *     the 0x80 placeholder, see P.src_obj),
 *   - the char→raw-byte offset map with parser/bytemap.py's EXACT
 *     attribution contract: when the input's non-continuation-byte
 *     count equals the decoded length, chars map to char-start bytes
 *     (build_byte_map's vectorized _char_starts_valid branch — taken
 *     even for some invalid inputs); otherwise the bytewise
 *     incremental-decoder attribution (first char of a flush gets
 *     last_flush, later chars of the same flush get the completing
 *     byte — reproducing the flush-boundary quirks the bytemap
 *     docstring documents, e.g. a char after a rejected prefix being
 *     attributed one byte into itself).  A collapsed CRLF maps the
 *     surviving \n to the CR's byte.
 *   - for non-ASCII docs, the UCS4 readback codepoints (materialized
 *     into a str for the engine's substring paths).
 * Remaining bail (-1): OOM only (round-7: NUL-in-non-ASCII engages —
 * the engine's transcoded compaction paths carry original codepoints;
 * table-text NUL in transcoded mode bails inside the engine).
 * Returns the normalized char count on success.  ``ucs`` and ``c2b``
 * are used as pre-collapse scratch for ALL classes (caller sizes them
 * nb+1). */
static Py_ssize_t prep_decode(const unsigned char *raw, Py_ssize_t nb,
                              unsigned char *pbuf, Py_UCS4 *ucs,
                              int64_t *c2b, int has_hi,
                              int *has_nul_out, PyObject **src_str_out) {
    Py_ssize_t c = 0;       /* decoded chars, pre CR-collapse */
    Py_ssize_t nonc = 0;    /* non-continuation bytes seen */
    int has_nul = 0, any_invalid = 0;
    unsigned char pend[4];
    int pend_n = 0, pend_need = 0;
    int64_t last_flush = 0;
    for (Py_ssize_t bi = 0; bi < nb; bi++) {
        unsigned char b = raw[bi];
        if ((b & 0xC0) != 0x80) nonc++;
        int emitted = 0;
        int again = 1;
        while (again) {
            again = 0;
            if (pend_n == 0) {
                if (b < 0x80) {
                    if (!b) has_nul = 1;
                    ucs[c] = b; c2b[c] = emitted ? bi : last_flush; c++; emitted++;
                } else if (b >= 0xC2 && b <= 0xDF) {
                    pend[0] = b; pend_n = 1; pend_need = 2;
                } else if (b >= 0xE0 && b <= 0xEF) {
                    pend[0] = b; pend_n = 1; pend_need = 3;
                } else if (b >= 0xF0 && b <= 0xF4) {
                    pend[0] = b; pend_n = 1; pend_need = 4;
                } else {  /* 0x80-0xC1 stray/overlong lead, 0xF5-0xFF */
                    any_invalid = 1;
                    ucs[c] = 0xFFFD; c2b[c] = emitted ? bi : last_flush; c++; emitted++;
                }
            } else {
                int ok2;
                if (pend_n == 1) {
                    unsigned char lead = pend[0];
                    unsigned char lo = 0x80, hi2 = 0xBF;
                    if (lead == 0xE0) lo = 0xA0;        /* overlong */
                    else if (lead == 0xED) hi2 = 0x9F;  /* surrogate */
                    else if (lead == 0xF0) lo = 0x90;   /* overlong */
                    else if (lead == 0xF4) hi2 = 0x8F;  /* >U+10FFFF */
                    ok2 = b >= lo && b <= hi2;
                } else {
                    ok2 = (b & 0xC0) == 0x80;
                }
                if (ok2) {
                    pend[pend_n++] = b;
                    if (pend_n == pend_need) {
                        Py_UCS4 cp;
                        if (pend_need == 2)
                            cp = ((Py_UCS4)(pend[0] & 0x1F) << 6) | (pend[1] & 0x3F);
                        else if (pend_need == 3)
                            cp = ((Py_UCS4)(pend[0] & 0x0F) << 12)
                               | ((Py_UCS4)(pend[1] & 0x3F) << 6) | (pend[2] & 0x3F);
                        else
                            cp = ((Py_UCS4)(pend[0] & 0x07) << 18)
                               | ((Py_UCS4)(pend[1] & 0x3F) << 12)
                               | ((Py_UCS4)(pend[2] & 0x3F) << 6) | (pend[3] & 0x3F);
                        ucs[c] = cp; c2b[c] = emitted ? bi : last_flush; c++; emitted++;
                        pend_n = 0;
                    }
                } else {
                    /* maximal subpart rejected: U+FFFD for the pending
                     * prefix, then THIS byte reprocesses clean-state
                     * in the same flush */
                    any_invalid = 1;
                    ucs[c] = 0xFFFD; c2b[c] = emitted ? bi : last_flush; c++; emitted++;
                    pend_n = 0;
                    again = 1;
                }
            }
        }
        if (emitted) last_flush = bi + 1;
    }
    if (pend_n) {  /* truncated sequence at EOF = one subpart */
        any_invalid = 1;
        ucs[c] = 0xFFFD; c2b[c] = last_flush; c++;
    }
    if (any_invalid && nonc == c) {
        /* bytemap's vectorized branch wins when counts agree */
        Py_ssize_t k = 0;
        for (Py_ssize_t bi = 0; bi < nb; bi++)
            if ((raw[bi] & 0xC0) != 0x80) c2b[k++] = bi;
    }
    /* CR collapse (in place: out index <= in index) + parse buffer */
    Py_ssize_t o = 0;
    for (Py_ssize_t i = 0; i < c; i++) {
        Py_UCS4 cp = ucs[i];
        int64_t at = c2b[i];
        if (cp == '\r') {
            cp = '\n';
            if (i + 1 < c && ucs[i + 1] == '\n') i++;  /* pair collapse */
        }
        pbuf[o] = cp > 0x7F ? 0x80 : (unsigned char)cp;
        ucs[o] = cp;
        c2b[o] = at;
        o++;
    }
    c2b[o] = nb;
    if (has_hi) {
        *src_str_out = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, ucs, o);
        if (!*src_str_out) { PyErr_Clear(); return -1; }
    }
    *has_nul_out = has_nul;
    return o;
}

/* One document's parser input, prepared the same way for both entries
 * (cextract_batch per row, cparse per call).  A classification scan
 * picks one of three classes:
 *   fast    — pure-ASCII CR-free bytes, parsed in place (identity
 *             byte map, c2b NULL);
 *   ascii+  — ASCII with CR: normalized into the scratch parse buffer,
 *             byte offsets via the c2b map;
 *   unicode — ANY other byte sequence, valid UTF-8 or not
 *             (errors='replace' decode in prep_decode): placeholder
 *             parse buffer + decoded str readback (src_str), byte
 *             offsets via the c2b map.
 * The scratch buffers grow once to the largest decoded document; the
 * caller releases them with in_free. */
typedef struct {
    unsigned char *pbuf;
    Py_UCS4 *ucs;
    int64_t *map;
    Py_ssize_t cap;
    const unsigned char *s;   /* parse buffer */
    Py_ssize_t n;
    const int64_t *c2b;       /* char -> raw byte offset; NULL = identity */
    int has_nul;
    PyObject *src_str;        /* owned; the decoded text of a non-ASCII doc */
} Input;

/* Returns 0 prepared, 1 bail (decode OOM: the Python engine takes the
 * document), -1 scratch OOM. */
static int prep_input(Input *in, const unsigned char *raw, Py_ssize_t nb) {
    int has_cr = 0, has_hi = 0, has_nul = 0;
    Py_CLEAR(in->src_str);
    for (Py_ssize_t i = 0; i < nb; i++) {
        unsigned char ch = raw[i];
        if (ch >= 0x80) has_hi = 1;
        else if (ch == '\r') has_cr = 1;
        else if (ch == 0) has_nul = 1;
    }
    in->s = raw;
    in->n = nb;
    in->c2b = NULL;
    in->has_nul = has_nul;
    if (!has_cr && !has_hi) return 0;
    if (nb + 1 > in->cap) {
        Py_ssize_t nc = in->cap ? in->cap : 4096;
        while (nc < nb + 1) nc *= 2;
        unsigned char *npb = realloc(in->pbuf, (size_t)nc);
        Py_UCS4 *nuc = realloc(in->ucs, (size_t)nc * sizeof(Py_UCS4));
        int64_t *nmap = realloc(in->map, (size_t)nc * sizeof(int64_t));
        if (npb) in->pbuf = npb;
        if (nuc) in->ucs = nuc;
        if (nmap) in->map = nmap;
        if (!npb || !nuc || !nmap) return -1;
        in->cap = nc;
    }
    Py_ssize_t nch = prep_decode(raw, nb, in->pbuf, in->ucs, in->map,
                                 has_hi, &in->has_nul, &in->src_str);
    if (nch < 0) return 1;
    in->s = in->pbuf;
    in->n = nch;
    in->c2b = in->map;
    return 0;
}

static void in_free(Input *in) {
    free(in->pbuf); free(in->ucs); free(in->map);
    Py_CLEAR(in->src_str);
}

/* Parse one prepared document into *p.  Returns 0 parsed (the caller
 * p_free()s), 1 bail (the Python engine takes the document), -1 with a
 * Python error set; p is freed on both non-zero returns. */
static int parse_input(P *p, const Input *in) {
    memset(p, 0, sizeof(P));
    p->s = in->s;
    p->n = in->n;
    p->doc_has_nul = in->has_nul;
    if (in->src_str) {
        p->src_obj = in->src_str;  /* borrowed */
        p->src_kind = PyUnicode_KIND(in->src_str);
        p->src_data = PyUnicode_DATA(in->src_str);
    }
    p->quirks = 1;
    p->preorder_ok = 1;
    p->frameset_ok = 1;
    p->html_id = p->head_id = p->body_id = -1;
    p->form_ptr = -1;
    /* document node (html5.py:691) */
    if (new_node(p, T_DOCUMENT, -1, NULL, NULL, NULL, 0, p->n, 0, 0, 0, 0) < 0) {
        p_free(p);
        return PyErr_Occurred() ? -1 : 1;
    }
    run_parse(p);
    if (p->bail || PyErr_Occurred()) {
        PyErr_Clear();
        p_free(p);
        return 1;
    }
    return 0;
}

/* the main-text kernel (operators/extract.py _main_text_columns):
 * body-subtree window — the first preorder node whose tag id is body,
 * else the whole document — then boilerplate-subtree exclusion and
 * textual-node collection, written into the batch accumulators.
 * ``c2b`` maps char offsets to raw-byte offsets (NULL = identity).
 * Pinned column-identical to the Python kernel by the corpus A/B
 * (tests/test_cengine.py).  Returns 0 ok, -1 fatal OOM. */
static int extract_doc_into(P *p, const uint8_t *boiler, int16_t body_tid,
                            const int64_t *c2b,
                            GrowBuf *txt, GrowBuf *ptg,
                            int32_t **sp_id, int64_t **sp_s0, int64_t **sp_s1,
                            int64_t **sp_b0, int64_t **sp_b1,
                            int32_t **ptg_off, Py_ssize_t *sp_n, Py_ssize_t *sp_cap,
                            int32_t *nn_out, int32_t *pe_out) {
    Store *st = &p->st;
    int32_t *order = NULL, *parent_new = NULL, *iwp = NULL, *subend = NULL;
    Py_ssize_t cnt = 0;
    if (compute_preorder(p, &order, &parent_new, &iwp, &subend, &cnt) < 0)
        return -1;
    Py_ssize_t lo = 0, hi = cnt;
    for (Py_ssize_t i = 0; i < cnt; i++) {
        int16_t t = st->tid[order ? order[i] : (int32_t)i];
        if (t == body_tid) { lo = i; hi = subend[i]; break; }
    }
    Py_ssize_t excl_until = 0;
    for (Py_ssize_t i = 0; i < cnt; i++) {
        Py_ssize_t b = order ? order[i] : i;
        int16_t tid = st->tid[b];
        int8_t ty = st->type[b];
        if (i >= excl_until) {
            if (tid >= 0 && boiler[tid]) { excl_until = subend[i]; continue; }
        } else {
            continue;  /* inside a boilerplate subtree */
        }
        if (i < lo || i >= hi) continue;
        if (ty != T_TEXT && ty != T_CDATA && ty != T_WHITESPACE) continue;
        PyObject *tx = st->text[b];
        if (tx && tx != empty_str && !gb_append_str(txt, tx)) goto fatal;
        if (ty == T_TEXT) {
            if (*sp_n == *sp_cap) {
                Py_ssize_t nc = *sp_cap ? *sp_cap * 2 : 256;
                int32_t *ni = realloc(*sp_id, (size_t)nc * sizeof(int32_t));
                int64_t *n0 = realloc(*sp_s0, (size_t)nc * sizeof(int64_t));
                int64_t *n1 = realloc(*sp_s1, (size_t)nc * sizeof(int64_t));
                int64_t *nb0 = realloc(*sp_b0, (size_t)nc * sizeof(int64_t));
                int64_t *nb1 = realloc(*sp_b1, (size_t)nc * sizeof(int64_t));
                int32_t *np_ = realloc(*ptg_off, (size_t)(nc + 1) * sizeof(int32_t));
                if (ni) *sp_id = ni;
                if (n0) *sp_s0 = n0;
                if (n1) *sp_s1 = n1;
                if (nb0) *sp_b0 = nb0;
                if (nb1) *sp_b1 = nb1;
                if (np_) *ptg_off = np_;
                if (!ni || !n0 || !n1 || !nb0 || !nb1 || !np_) goto fatal;
                *sp_cap = nc;
            }
            int64_t s0v = st->span[6 * b + 0], s1v = st->span[6 * b + 1];
            (*sp_id)[*sp_n] = (int32_t)i;
            (*sp_s0)[*sp_n] = s0v;
            (*sp_s1)[*sp_n] = s1v;
            (*sp_b0)[*sp_n] = c2b ? c2b[s0v] : s0v;
            (*sp_b1)[*sp_n] = c2b ? c2b[s1v] : s1v;
            (*ptg_off)[*sp_n] = (int32_t)ptg->n;
            int32_t par = parent_new[i];
            if (par >= 0) {
                Py_ssize_t pb = order ? order[par] : par;
                PyObject *tg = st->tag[pb]
                    ? st->tag[pb]
                    : (st->tid[pb] >= 0 && st->tid[pb] < N_TAGS ? tag_objs[st->tid[pb]]
                                                                : NULL);
                if (tg && tg != empty_str && !gb_append_str(ptg, tg)) goto fatal;
            }
            (*sp_n)++;
        }
    }
    *nn_out = (int32_t)cnt;
    *pe_out = (int32_t)p->err_n;
    free(order); free(parent_new); free(iwp); free(subend);
    return 0;
fatal:
    free(order); free(parent_new); free(iwp); free(subend);
    return -1;
}

static PyObject *cextract_batch(PyObject *self, PyObject *args) {
    Py_buffer dview = {0}, oview = {0}, bview = {0};
    int is64 = 0;
    if (!PyArg_ParseTuple(args, "y*y*iy*", &dview, &oview, &is64, &bview))
        return NULL;
    const unsigned char *data = dview.buf;
    Py_ssize_t data_n = dview.len;
    Py_ssize_t item = is64 ? 8 : 4;
    Py_ssize_t n_docs = oview.len / item - 1;
    const int16_t *boiler_ids = (const int16_t *)bview.buf;
    Py_ssize_t n_boiler = bview.len / (Py_ssize_t)sizeof(int16_t);
    if (n_docs < 0) {
        PyBuffer_Release(&dview); PyBuffer_Release(&oview); PyBuffer_Release(&bview);
        Py_RETURN_NONE;
    }

    uint8_t boiler[N_TAGS];
    memset(boiler, 0, sizeof(boiler));
    for (Py_ssize_t k = 0; k < n_boiler; k++) {
        int16_t t = boiler_ids[k];
        if (t >= 0 && t < N_TAGS) boiler[t] = 1;
    }
    int16_t body_tid = (int16_t)tag_lookup("body", 4);

    GrowBuf txt = {0}, ptg = {0};
    int32_t *sp_id = NULL, *ptg_off = NULL;
    int64_t *sp_s0 = NULL, *sp_s1 = NULL, *sp_b0 = NULL, *sp_b1 = NULL;
    Py_ssize_t sp_n = 0, sp_cap = 0;
    Input in = {0};
    int32_t *txt_off = malloc((size_t)(n_docs + 1) * sizeof(int32_t));
    int32_t *sp_cnt = malloc((size_t)(n_docs ? n_docs : 1) * sizeof(int32_t));
    int32_t *nn = malloc((size_t)(n_docs ? n_docs : 1) * sizeof(int32_t));
    int32_t *pe = malloc((size_t)(n_docs ? n_docs : 1) * sizeof(int32_t));
    int64_t *tot = malloc((size_t)(n_docs ? n_docs : 1) * sizeof(int64_t));
    int32_t *bail = NULL;
    Py_ssize_t bail_n = 0, bail_cap = 0;
    PyObject *res = NULL;
    int fatal = 0, overflow = 0;
    if (!txt_off || !sp_cnt || !nn || !pe || !tot) { fatal = 1; goto done; }
    txt_off[0] = 0;

    for (Py_ssize_t k = 0; k < n_docs; k++) {
        struct timespec ts0, ts1;
        clock_gettime(CLOCK_MONOTONIC, &ts0);
        Py_ssize_t sp_doc0 = sp_n;
        int64_t o0 = is64 ? ((const int64_t *)oview.buf)[k]
                          : (int64_t)((const int32_t *)oview.buf)[k];
        int64_t o1 = is64 ? ((const int64_t *)oview.buf)[k + 1]
                          : (int64_t)((const int32_t *)oview.buf)[k + 1];
        /* remaining bails: only the engine's designed semantic classes
         * (colgroup/frameset-content NUL and its ws-charref
         * intersection) -> the caller's Python splice */
        int ok = o0 >= 0 && o1 >= o0 && o1 <= data_n;
        if (ok) {
            int rc = prep_input(&in, data + o0, o1 - o0);
            if (rc < 0) { fatal = 1; goto done; }
            ok = rc == 0;
        }
        if (ok) {
            P p;
            int rc = parse_input(&p, &in);
            if (rc < 0) { fatal = 1; goto done; }
            ok = rc == 0;
            if (ok) {
                rc = extract_doc_into(&p, boiler, body_tid, in.c2b, &txt, &ptg,
                                      &sp_id, &sp_s0, &sp_s1, &sp_b0, &sp_b1,
                                      &ptg_off, &sp_n, &sp_cap, &nn[k], &pe[k]);
                p_free(&p);
                if (rc < 0) { fatal = 1; goto done; }
            }
        }
        if (!ok) {
            /* zero-length slots; caller reparses this doc Python-side */
            if (bail_n == bail_cap) {
                Py_ssize_t nc = bail_cap ? bail_cap * 2 : 64;
                int32_t *nb = realloc(bail, (size_t)nc * sizeof(int32_t));
                if (!nb) { fatal = 1; goto done; }
                bail = nb;
                bail_cap = nc;
            }
            bail[bail_n++] = (int32_t)k;
            sp_n = sp_doc0;
            nn[k] = 0;
            pe[k] = 0;
        }
        if (txt.n > ((Py_ssize_t)1 << 30) || ptg.n > ((Py_ssize_t)1 << 30)) {
            overflow = 1;
            goto done;
        }
        txt_off[k + 1] = (int32_t)txt.n;
        sp_cnt[k] = (int32_t)(sp_n - sp_doc0);
        clock_gettime(CLOCK_MONOTONIC, &ts1);
        tot[k] = (int64_t)(ts1.tv_sec - ts0.tv_sec) * 1000000
               + (ts1.tv_nsec - ts0.tv_nsec) / 1000;
    }

    {
        if (ptg_off == NULL) {
            ptg_off = malloc(sizeof(int32_t));
            if (!ptg_off) { fatal = 1; goto done; }
        }
        ptg_off[sp_n] = (int32_t)ptg.n;
        PyObject *o_txt = PyBytes_FromStringAndSize(txt.buf ? txt.buf : "", txt.n);
        PyObject *o_toff = np_copy1d(txt_off, n_docs + 1, NPY_INT32, 4);
        PyObject *o_sid = np_copy1d(sp_id, sp_n, NPY_INT32, 4);
        PyObject *o_s0 = np_copy1d(sp_s0, sp_n, NPY_INT64, 8);
        PyObject *o_s1 = np_copy1d(sp_s1, sp_n, NPY_INT64, 8);
        PyObject *o_b0 = np_copy1d(sp_b0, sp_n, NPY_INT64, 8);
        PyObject *o_b1 = np_copy1d(sp_b1, sp_n, NPY_INT64, 8);
        PyObject *o_cnt = np_copy1d(sp_cnt, n_docs, NPY_INT32, 4);
        PyObject *o_ptg = PyBytes_FromStringAndSize(ptg.buf ? ptg.buf : "", ptg.n);
        PyObject *o_poff = np_copy1d(ptg_off, sp_n + 1, NPY_INT32, 4);
        PyObject *o_nn = np_copy1d(nn, n_docs, NPY_INT32, 4);
        PyObject *o_pe = np_copy1d(pe, n_docs, NPY_INT32, 4);
        PyObject *o_tot = np_copy1d(tot, n_docs, NPY_INT64, 8);
        PyObject *o_bail = np_copy1d(bail, bail_n, NPY_INT32, 4);
        if (o_txt && o_toff && o_sid && o_s0 && o_s1 && o_b0 && o_b1 &&
            o_cnt && o_ptg && o_poff && o_nn && o_pe && o_tot && o_bail) {
            res = PyTuple_Pack(14, o_txt, o_toff, o_sid, o_s0, o_s1, o_b0,
                               o_b1, o_cnt, o_ptg, o_poff, o_nn, o_pe,
                               o_tot, o_bail);
        }
        Py_XDECREF(o_txt); Py_XDECREF(o_toff); Py_XDECREF(o_sid);
        Py_XDECREF(o_s0); Py_XDECREF(o_s1); Py_XDECREF(o_b0); Py_XDECREF(o_b1);
        Py_XDECREF(o_cnt); Py_XDECREF(o_ptg); Py_XDECREF(o_poff);
        Py_XDECREF(o_nn); Py_XDECREF(o_pe); Py_XDECREF(o_tot); Py_XDECREF(o_bail);
        if (!res) fatal = 1;
    }

done:
    free(txt.buf); free(ptg.buf);
    free(sp_id); free(sp_s0); free(sp_s1); free(sp_b0); free(sp_b1); free(ptg_off);
    in_free(&in);
    free(txt_off); free(sp_cnt); free(nn); free(pe); free(tot); free(bail);
    PyBuffer_Release(&dview); PyBuffer_Release(&oview); PyBuffer_Release(&bview);
    if (fatal) {
        if (!PyErr_Occurred()) PyErr_NoMemory();
        Py_XDECREF(res);
        return NULL;
    }
    if (overflow) Py_RETURN_NONE;
    return res;
}

static PyObject *cparse(PyObject *self, PyObject *arg) {
    Py_buffer view;
    if (PyObject_GetBuffer(arg, &view, PyBUF_SIMPLE) < 0) return NULL;
    Input in = {0};
    PyObject *res = NULL;
    P p;
    int rc = prep_input(&in, view.buf, view.len);
    if (rc < 0) PyErr_NoMemory();
    else if (rc == 0) rc = parse_input(&p, &in);
    if (rc == 0) {
        PyObject *src = in.src_str;
        if (src) Py_INCREF(src);
        else {
            src = PyUnicode_New(in.n, 127);
            if (src) memcpy(PyUnicode_1BYTE_DATA(src), in.s, (size_t)in.n);
        }
        res = src ? build_result(&p, src) : NULL;
        p_free(&p);
    } else if (rc == 1) {
        Py_INCREF(Py_None);
        res = Py_None;
    }
    in_free(&in);
    PyBuffer_Release(&view);
    return res;
}

static PyMethodDef methods[] = {
    {"cextract_batch", cextract_batch, METH_VARARGS,
     "Parse + main-text kernel for a whole Arrow binary column "
     "(values buffer, offsets buffer, offsets_are_64, boiler ids); "
     "returns batch-level Arrow-layout buffers + bail indices, or "
     "None on int32 text-offset overflow."},
    {"cparse", cparse, METH_O,
     "Parse one HTML document from raw bytes (any encoding bytes, "
     "decoded as UTF-8 with replacement like cextract_batch); returns "
     "the node-table columns or None when the document needs the "
     "pure-Python engine."},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "_chtml", NULL, -1, methods, NULL, NULL, NULL, NULL,
};

PyMODINIT_FUNC PyInit__chtml(void) {
    import_array();  /* numpy C API (column materialization) */
    PyObject *m = PyModule_Create(&moduledef);
    if (!m) return NULL;
    for (int i = 0; i < N_TAGS; i++) {
        tag_objs[i] = PyUnicode_InternFromString(TAG_STRS[i]);
        if (!tag_objs[i]) return NULL;
    }
    empty_str = PyUnicode_InternFromString("");
    empty_attrs = PyDict_New();
    {
        Py_UCS4 z = 0, f = 0xFFFD;
        nul_str = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, &z, 1);
        fffd_str = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, &f, 1);
    }
    eq_str = PyUnicode_InternFromString("=");
    if (!empty_str || !empty_attrs || !nul_str || !fffd_str || !eq_str) return NULL;
    return m;
}
