"""FSST symbol-table compression over byte streams — pure numpy.

Fast Static Symbol Table (Boncz, Neumann, Leis — VLDB 2020): codes 0..254
map to trained symbols of 1..8 bytes, code 255 is an escape marker followed
by one literal byte. Training is the paper's iterative refinement (parse the
sample with the current table, count symbols and concatenations of adjacent
matched symbols, keep the top candidates by gain = count x length) over a
bounded sample, so the table is a deterministic function of the chunk bytes
(same stance as the reference's data-driven zoned-encoding detection,
crates/copybook-codec/src/numeric.rs:308-396; its 256-entry charset tables at
crates/copybook-charset/src/lib.rs:40 are the fixed-table precedent).

Both directions are fully vectorized. Longest-match at every position is 7
masked binary searches over per-length sorted symbol values; the sequential
greedy parse (each match's length determines the next parse position) is
resolved by pointer doubling over the jump array next[i] = i + len[i] —
O(log n) gather passes, no per-byte Python.
"""

from __future__ import annotations

import numpy as np

from copybook_rs_spark.errors import PayloadCorruptError, TruncatedBlobError

ESCAPE = 255
MAX_CODES = 255  # 0..254 usable, 255 reserved for escape
MAX_SYM_LEN = 8
_TRAIN_SAMPLE = 1 << 14  # training-time/quality sweet spot: a 16 KiB prefix
# sample gives within ~0.5% of the 64 KiB-sample size on id-suffix streams
# at roughly half the training cost (fresh-process sample-size sweep)
_TRAIN_ITERS = 5
_U64_1 = np.uint64(1)
_FULL64 = np.uint64(0xFFFFFFFFFFFFFFFF)


_HBITS = 20
_HSIZE = 1 << _HBITS  # 1 MiB uint8 bucket-id table per trained table
_KNUTH = 2654435761
_BUCKET_K_MAX = 4  # largest bucket the slot walk beats binary search on


def _hash24(p24):
    """Knuth multiplicative hash of a 3-byte prefix into _HBITS bits.
    Works on a python int or elementwise on an int64 array (products stay
    under 2^56, no overflow)."""
    return ((p24 * _KNUTH) & 0xFFFFFFFF) >> (32 - _HBITS)


def _len_mask(length: int) -> np.uint64:
    """Mask keeping the low `length` bytes of a little-endian u64 window."""
    if length >= 8:
        return _FULL64
    return (_U64_1 << np.uint64(8 * length)) - _U64_1


class SymbolTable:
    """Trained table: per-code symbol length (0 = unused) and bytes.

    Lookup structures: single_code[256] for length-1 symbols; by_len[L] =
    (sorted u64 symbol values, their codes) for L in 2..8."""

    __slots__ = (
        "sym_len", "sym_bytes", "sym_val", "single_code", "by_len",
        "prefix2", "has_multi", "tab16", "slots_len", "slots_val",
        "slots_code", "tab24h", "lenbits16",
    )

    def __init__(self, sym_len: np.ndarray, sym_bytes: np.ndarray):
        self.sym_len = np.ascontiguousarray(sym_len, dtype=np.uint8)  # [256]
        self.sym_bytes = np.ascontiguousarray(sym_bytes, dtype=np.uint8)  # [256, 8]
        val = np.zeros(256, dtype=np.uint64)
        for j in range(MAX_SYM_LEN):
            val |= self.sym_bytes[:, j].astype(np.uint64) << np.uint64(8 * j)
        self.sym_val = val
        single_code = np.full(256, -1, dtype=np.int16)
        ones = np.flatnonzero(self.sym_len == 1)
        single_code[self.sym_bytes[ones, 0]] = ones.astype(np.int16)
        self.single_code = single_code
        by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        prefix2 = np.zeros(65536, dtype=bool)
        for length in range(2, MAX_SYM_LEN + 1):
            codes = np.flatnonzero(self.sym_len == length)
            vals = self.sym_val[codes] & _len_mask(length)
            order = np.argsort(vals, kind="stable")
            by_len[length] = (vals[order], codes[order].astype(np.int64))
            prefix2[(vals & np.uint64(0xFFFF)).astype(np.int64)] = True
        self.by_len = by_len
        self.prefix2 = prefix2
        # compress-only match tables (~1.2 MB) built LAZILY on the first
        # _match call: the decode path deserializes up to 8 stacked tables
        # per byte-stream section and never matches (round-5 review)
        self.tab16 = None
        self.slots_len = None
        self.slots_val = None
        self.slots_code = None
        self.tab24h = None
        self.lenbits16 = None
        self.has_multi = bool(prefix2.any())

    def _ensure_match_tables(self, bucket_ok: bool = True) -> None:
        """Exact-code table for length-2 symbols (single gather, no
        search) plus ONE of two structures for lengths >= 3, chosen
        deterministically from the table shape (pure function of the
        trained table, which is a pure function of the data — both
        produce byte-identical matches, only speed differs):

        - hashed 3-byte-prefix bucket walk (the reference-FSST-style
          bucket match): tab24h maps hash(first 3 window bytes) ->
          bucket id; each bucket lists its symbols ASCENDING by length
          in a tiny padded slot matrix, so the slot loop's overwrites
          preserve longest-match-wins exactly like the per-length loop.
          1 MiB hash table, not a 16 MiB direct 24-bit table — hash
          collisions just merge buckets and the exact masked-value
          compare filters them (a compare, never a correctness cost).
          Wins when buckets stay small (measured 1.5x on digit/id
          streams, K<=2): K slot passes replace 6 searchsorted passes.
        - per-prefix LENGTH bitmap + per-length masked searchsorted (the
          round-5 gate) when some bucket would hold > _BUCKET_K_MAX
          symbols: text-like tables put dozens of same-prefix len-8
          symbols in one bucket, where binary search beats a
          compare-per-symbol slot walk (measured 0.68x the other way)."""
        if self.tab16 is not None:
            return
        tab16 = np.full(65536, -1, dtype=np.int16)
        vals2, codes2 = self.by_len[2]
        tab16[vals2.astype(np.int64)] = codes2.astype(np.int16)
        entries = []  # (hash, length, masked value, code) — <= 253 items
        for length in range(3, MAX_SYM_LEN + 1):
            vals, codes = self.by_len[length]
            for v, c in zip(vals.tolist(), codes.tolist()):
                entries.append((_hash24(v & 0xFFFFFF), length, v, c))
        buckets: dict[int, list] = {}
        for h, length, v, c in entries:
            buckets.setdefault(h, []).append((length, v, c))
        k_max = max((len(b) for b in buckets.values()), default=0)
        if entries and bucket_ok and k_max <= _BUCKET_K_MAX:
            tab24h = np.full(_HSIZE, 255, dtype=np.uint8)
            hashes = sorted(buckets)
            nb = len(hashes)
            slots_len = np.zeros((nb, k_max), dtype=np.uint8)
            slots_val = np.zeros((nb, k_max), dtype=np.uint64)
            slots_code = np.zeros((nb, k_max), dtype=np.int16)
            for bi, h in enumerate(hashes):
                for s, (length, v, c) in enumerate(sorted(buckets[h])):
                    slots_len[bi, s] = length
                    slots_val[bi, s] = v
                    slots_code[bi, s] = c
            tab24h[np.array(hashes, dtype=np.int64)] = np.arange(
                nb, dtype=np.uint8
            )
            self.slots_len = slots_len
            self.slots_val = slots_val
            self.slots_code = slots_code
            self.tab24h = tab24h
        elif entries:
            lenbits16 = np.zeros(65536, dtype=np.uint8)
            for length in range(3, MAX_SYM_LEN + 1):
                vals, _codes = self.by_len[length]
                p = (vals & np.uint64(0xFFFF)).astype(np.int64)
                lenbits16[p] |= np.uint8(1 << (length - 3))
            self.lenbits16 = lenbits16
        self.tab16 = tab16

    def serialize(self) -> bytes:
        """255 length bytes + concatenated symbol bytes (codes 0..254)."""
        lens = self.sym_len[:MAX_CODES]
        used = np.flatnonzero(lens > 0)
        total = int(lens.sum())
        blob = np.empty(total, dtype=np.uint8)
        pos = 0
        for c in used:
            k = int(lens[c])
            blob[pos : pos + k] = self.sym_bytes[c, :k]
            pos += k
        return lens.tobytes() + blob.tobytes()

    @classmethod
    def deserialize(cls, buf: memoryview) -> tuple["SymbolTable", int]:
        if len(buf) < MAX_CODES:
            raise TruncatedBlobError("fsst table truncated")
        lens = np.frombuffer(buf, dtype=np.uint8, count=MAX_CODES)
        if (lens > MAX_SYM_LEN).any():
            raise PayloadCorruptError(f"fsst symbol length > {MAX_SYM_LEN}")
        total = int(lens.sum())
        if len(buf) < MAX_CODES + total:
            raise TruncatedBlobError("fsst symbol bytes truncated")
        blob = np.frombuffer(buf, dtype=np.uint8, count=total, offset=MAX_CODES)
        sym_len = np.zeros(256, dtype=np.uint8)
        sym_len[:MAX_CODES] = lens
        sym_bytes = np.zeros((256, MAX_SYM_LEN), dtype=np.uint8)
        starts = np.zeros(MAX_CODES, dtype=np.int64)
        np.cumsum(lens[:-1].astype(np.int64), out=starts[1:])
        for c in np.flatnonzero(lens > 0):
            k = int(lens[c])
            sym_bytes[c, :k] = blob[starts[c] : starts[c] + k]
        return cls(sym_len, sym_bytes), MAX_CODES + total


def _empty_table() -> SymbolTable:
    return SymbolTable(
        np.zeros(256, dtype=np.uint8), np.zeros((256, MAX_SYM_LEN), dtype=np.uint8)
    )


def _windows(data: np.ndarray) -> np.ndarray:
    """u64 little-endian 8-byte window starting at each position
    (zero-padded past the end)."""
    n = len(data)
    pad = np.zeros(n + MAX_SYM_LEN, dtype=np.uint8)
    pad[:n] = data
    w = np.zeros(n, dtype=np.uint64)
    for j in range(MAX_SYM_LEN):
        w |= pad[j : j + n].astype(np.uint64) << np.uint64(8 * j)
    return w


def _match(data: np.ndarray, table: SymbolTable, w: np.ndarray | None = None):
    """Longest symbol match at every position -> (mlen, mcode, windows).
    mcode = -1 where only an escaped literal is possible (mlen 1)."""
    n = len(data)
    if w is None:
        w = _windows(data)
    mlen = np.ones(n, dtype=np.int64)
    mcode = table.single_code[data].astype(np.int64)
    if table.has_multi:
        table._ensure_match_tables()
        # only positions whose 2-byte prefix opens some symbol can match
        cand = np.flatnonzero(
            table.prefix2[(w & np.uint64(0xFFFF)).astype(np.int64)]
        )
        if len(cand):
            wc = w[cand]
            p16 = (wc & np.uint64(0xFFFF)).astype(np.int64)
            # length 2: exact table lookup, no search (ascending-length
            # assignment order preserved — longer matches overwrite, so
            # the longest-match-wins result is unchanged)
            code2 = table.tab16[p16]
            hit2 = (code2 >= 0) & (cand + 2 <= n)
            h2 = cand[hit2]
            mlen[h2] = 2
            mcode[h2] = code2[hit2]
            if table.slots_len is not None:
                # hashed 3-byte-prefix bucket walk: each position belongs
                # to exactly one bucket whose slots ascend by length, so
                # in-place overwrites keep longest-match-wins intact
                p24 = (wc & np.uint64(0xFFFFFF)).astype(np.int64)
                b = table.tab24h[_hash24(p24)]
                has = np.flatnonzero(b != 255)
                if len(has):
                    bb = b[has].astype(np.int64)
                    wh = wc[has]
                    ch = cand[has]
                    for s in range(table.slots_len.shape[1]):
                        ls = table.slots_len[bb, s]
                        live = ls > 0
                        if not live.any():
                            break  # slots fill low-to-high: later all empty
                        wv = wh & _LEN_MASKS[ls]
                        hit = (
                            live
                            & (wv == table.slots_val[bb, s])
                            & (ch + ls <= n)
                        )
                        hp = ch[hit]
                        mlen[hp] = ls[hit]
                        mcode[hp] = table.slots_code[bb, s][hit]
            elif table.lenbits16 is not None:
                lb = table.lenbits16[p16]
                for length in range(3, MAX_SYM_LEN + 1):
                    vals, codes = table.by_len[length]
                    if len(vals) == 0:
                        continue
                    sub = np.flatnonzero(lb & np.uint8(1 << (length - 3)))
                    if len(sub) == 0:
                        continue
                    wv = wc[sub] & _len_mask(length)
                    ins = np.searchsorted(vals, wv)
                    ins_c = np.minimum(ins, len(vals) - 1)
                    hit = (vals[ins_c] == wv) & (cand[sub] + length <= n)
                    hp = cand[sub[hit]]
                    mlen[hp] = length
                    mcode[hp] = codes[ins_c[hit]]
    return mlen, mcode, w


def _greedy_positions(mlen: np.ndarray, n: int) -> np.ndarray:
    """Positions visited by the greedy parse 0 -> 0+mlen[0] -> ... — pointer
    doubling over next[i] = i + mlen[i]: reached(2^(k+1)) = reached(2^k)
    ∪ jump_2^k(reached(2^k))."""
    nxt = np.minimum(np.arange(n, dtype=np.int64) + mlen, n)
    jump = np.append(nxt, n)  # jump[n] = n (terminal fixpoint)
    reached = np.zeros(n + 1, dtype=bool)
    reached[0] = True
    steps = 1
    while steps <= n:
        reached[jump[np.flatnonzero(reached)]] = True
        jump = jump[jump]
        steps *= 2
    return np.flatnonzero(reached[:n])


def compress(data: np.ndarray, table: SymbolTable) -> bytes:
    """Encode uint8 array -> code bytes. Vectorized greedy longest-match."""
    n = len(data)
    if n == 0:
        return b""
    mlen, mcode, _ = _match(data, table)
    taken = _greedy_positions(mlen, n)
    codes = mcode[taken]
    esc = codes < 0
    out_len = np.where(esc, 2, 1)
    m = len(taken)
    offs = np.zeros(m, dtype=np.int64)
    np.cumsum(out_len[:-1], out=offs[1:])
    out = np.empty(int(out_len.sum()), dtype=np.uint8)
    ok = ~esc
    out[offs[ok]] = codes[ok]
    eo = offs[esc]
    out[eo] = ESCAPE
    out[eo + 1] = data[taken[esc]]
    return out.tobytes()


def _ffill_run_starts(flags: np.ndarray) -> np.ndarray:
    """For each True position, index of the start of its True-run."""
    idx = np.arange(len(flags), dtype=np.int64)
    begin = flags & ~np.concatenate(([False], flags[:-1]))
    return np.maximum.accumulate(np.where(begin, idx, -1))


def decompress(codes: np.ndarray, table: SymbolTable, out_bytes: int) -> np.ndarray:
    """Decode code bytes -> uint8 array of exactly out_bytes. Vectorized."""
    n = len(codes)
    if n == 0:
        if out_bytes != 0:
            raise PayloadCorruptError("fsst: empty stream, nonzero expected output")
        return np.empty(0, dtype=np.uint8)
    is255 = codes == ESCAPE
    starts = _ffill_run_starts(is255)
    idx = np.arange(n, dtype=np.int64)
    marker = is255 & (((idx - starts) & 1) == 0)
    if marker[-1]:
        raise TruncatedBlobError("fsst: escape marker at end of stream")
    literal = np.zeros(n, dtype=bool)
    literal[1:] = marker[:-1]
    normal = ~marker & ~literal
    slen = table.sym_len[codes].astype(np.int64)
    if (slen[normal] == 0).any():
        raise PayloadCorruptError("fsst: undefined symbol code in stream")
    out_len = np.zeros(n, dtype=np.int64)
    out_len[marker] = 1
    out_len[normal] = slen[normal]
    total = int(out_len.sum())
    if total != out_bytes:
        raise PayloadCorruptError(
            f"fsst: decoded {total} bytes, expected {out_bytes}"
        )
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(out_len[:-1], out=offs[1:])
    out = np.empty(total, dtype=np.uint8)
    mp = np.flatnonzero(marker)
    out[offs[mp]] = codes[mp + 1]
    npos = np.flatnonzero(normal)
    ln = slen[npos]
    for j in range(MAX_SYM_LEN):
        sel = npos[ln > j]
        if len(sel) == 0:
            break
        out[offs[sel] + j] = table.sym_bytes[codes[sel], j]
    return out


def train(data: np.ndarray, iters: int = _TRAIN_ITERS) -> SymbolTable:
    """Iterative FSST training over a bounded prefix sample (paper §3.2):
    parse with the current table, count matched symbols and concatenations
    of adjacent matches (capped at 8 bytes), keep the MAX_CODES best by
    gain = count x length. Deterministic: fixed sample, stable sorts, ties
    broken by (length, value)."""
    sample = np.ascontiguousarray(data[:_TRAIN_SAMPLE], dtype=np.uint8)
    n = len(sample)
    table = _empty_table()
    if n == 0:
        return table
    w = _windows(sample)
    for it in range(iters):
        if it == 0:
            # empty table: the parse is trivially all single-byte escapes
            taken = np.arange(n, dtype=np.int64)
            lens_t = np.ones(n, dtype=np.int64)
        else:
            # throwaway intermediate table: force the cheap searchsorted
            # structure — the 1 MiB bucket build is wasted on a table that
            # only ever parses the 16 KiB training sample (match results
            # are identical either way, so training is unaffected)
            table._ensure_match_tables(bucket_ok=False)
            mlen, _, _ = _match(sample, table, w)
            taken = _greedy_positions(mlen, n)
            lens_t = mlen[taken]
        vals_t = w[taken] & _LEN_MASKS[lens_t]
        if len(taken) > 1:
            cat_len = np.minimum(lens_t[:-1] + lens_t[1:], MAX_SYM_LEN)
            cat_len = np.minimum(cat_len, n - taken[:-1])
            cat_val = w[taken[:-1]] & _LEN_MASKS[cat_len]
            all_len = np.concatenate([lens_t, cat_len])
            all_val = np.concatenate([vals_t, cat_val])
        else:
            all_len, all_val = lens_t, vals_t
        # unique (len, val) pairs with counts
        order = np.lexsort((all_val, all_len))
        sl, sv = all_len[order], all_val[order]
        new = np.concatenate(([True], (sl[1:] != sl[:-1]) | (sv[1:] != sv[:-1])))
        starts = np.flatnonzero(new)
        counts = np.diff(np.append(starts, len(sl)))
        u_len, u_val = sl[starts], sv[starts]
        gain = counts * u_len
        top = np.lexsort((u_val, u_len, -gain))[:MAX_CODES]
        # stable code assignment: by (length, value)
        sel = top[np.lexsort((u_val[top], u_len[top]))]
        k = len(sel)
        sym_len = np.zeros(256, dtype=np.uint8)
        sym_bytes = np.zeros((256, MAX_SYM_LEN), dtype=np.uint8)
        sym_len[:k] = u_len[sel]
        vals64 = u_val[sel]
        for j in range(MAX_SYM_LEN):
            sym_bytes[:k, j] = (
                (vals64 >> np.uint64(8 * j)) & np.uint64(0xFF)
            ).astype(np.uint8)
        table = SymbolTable(sym_len, sym_bytes)
    return table


_LEN_MASKS = np.array([_len_mask(L) for L in range(MAX_SYM_LEN + 1)], dtype=np.uint64)


_STACK_RATIO = 0.55


MIN_GAIN = 0.96  # a pass must shrink the stream below this ratio to keep


def compress_multi(
    data: np.ndarray, max_passes: int = 2, min_gain: float = MIN_GAIN
) -> tuple[list["SymbolTable"], list[np.ndarray]]:
    """Stack compression passes while each shrinks the stream enough to pay
    for its table. With 8-byte symbols a single pass usually wins; another
    pass only pays on highly repetitive streams — so a further pass is
    attempted only when the last one compressed below _STACK_RATIO (skips a
    provably-wasted train on typical streams; pure function of the data).
    Returns (tables, streams) with streams[0] = input, streams[-1] = final."""
    streams = [data]
    tables: list[SymbolTable] = []
    for p in range(max_passes):
        cur = streams[-1]
        if len(cur) < 16:
            break
        table = train(cur)
        nxt = np.frombuffer(compress(cur, table), dtype=np.uint8)
        if len(nxt) + len(table.serialize()) > min_gain * len(cur):
            break
        streams.append(nxt)
        tables.append(table)
        if len(nxt) > _STACK_RATIO * len(cur):
            break
    return tables, streams


def decompress_multi(
    final: np.ndarray, tables: list["SymbolTable"], lens: list[int]
) -> np.ndarray:
    """Inverse of compress_multi: lens[i] = byte length of stream i."""
    stream = final
    for p in range(len(tables) - 1, -1, -1):
        stream = decompress(stream, tables[p], lens[p])
    return stream
