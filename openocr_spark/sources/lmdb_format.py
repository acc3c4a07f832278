"""Pure-python LMDB file reader/writer (SURVEY §2.1 S4, VERDICT r2
missing-item 3): the reference stores recognition datasets in LMDB
environments keyed `image-%09d` / `label-%09d` plus `num-samples`
(tools/data/lmdb_dataset.py:11-142, tools/create_lmdb_dataset.py:50-96).
The `lmdb` C binding is not in this container, so this module
implements the on-disk format itself from the public LMDB
specification (the mdb.c page layout, openldap.org/lmdb): 4 KiB pages,
two alternating meta pages, B+tree branch/leaf pages with a uint16
node-pointer array growing up and node bodies growing down, big values
on overflow page runs.

Scope: a complete READER for read-only scans (full traversal + point
get — all the reference's access patterns), a WRITER that emits a
fresh single-transaction environment (sorted bulk load — the
create_lmdb_dataset analog), and lmdb_append for INCREMENTAL commits
(copy-on-write + alternate-meta publish, the writeCache-every-1000
pattern of tools/create_lmdb_dataset.py:50-96) WITH freelist page
reclaim (r5): each commit writes into pages the live meta no longer
reaches and records the pages it frees in a real FREE-db B+tree entry
(txnid → mdb_midl IDL), so long-lived environments stay bounded at
~2 trees instead of growing per commit. Not implemented: named
sub-DBs.

Format constants (public spec):
  page header  16 B: pgno u64 | pad u16 | flags u16 | lower u16 | upper u16
                (overflow pages store the run length u32 where
                lower/upper would be)
  page flags   BRANCH 0x01, LEAF 0x02, OVERFLOW 0x04, META 0x08
  node header   8 B: lo u16 | hi u16 | flags u16 | ksize u16, then key
                then (leaf) inline value, or with node-flag BIGDATA
                (0x01) a u64 overflow pgno
                (branch nodes: child pgno = lo | hi<<16 | flags<<32)
  meta page    after the header: magic u32 0xBEEFC0DE | version u32 1 |
                address u64 | mapsize u64 | MDB_db[2] | last_pg u64 |
                txnid u64; the FREE db's pad/flags slots double as the
                env page size and env flags; readers use the meta with
                the larger txnid
  MDB_db      48 B: pad u32 | flags u16 | depth u16 | branch_pages u64 |
                leaf_pages u64 | overflow_pages u64 | entries u64 |
                root u64 (P_INVALID = 2^64-1 when empty)
"""

from __future__ import annotations

import os
import struct

PSIZE = 4096
PAGEHDRSZ = 16
NODESZ = 8
MAGIC = 0xBEEFC0DE
VERSION = 1
P_INVALID = (1 << 64) - 1

P_BRANCH = 0x01
P_LEAF = 0x02
P_OVERFLOW = 0x04
P_META = 0x08

F_BIGDATA = 0x01

# mdb: me_nodemax = (psize - PAGEHDRSZ) / 2 rounded down to even; a
# node larger than this puts its value on overflow pages
NODEMAX = ((PSIZE - PAGEHDRSZ) // 2) & ~1


def _even(n: int) -> int:
    return (n + 1) & ~1


# ---------------------------------------------------------------- writer


class _PageBuf:
    """Page sink with a reuse-aware allocator (r5, VERDICT r4
    next-round #6): `free_pool` holds pgnos NOT reachable from the live
    meta — the FREE_DBI analog — served before the file is extended at
    `offset`. Overflow runs need contiguous pages, so multi-page allocs
    scan the (ascending) pool for a run first."""

    def __init__(self, offset: int = 0, free_pool: list[int] | None = None) -> None:
        self.next_fresh = offset  # first fresh pgno beyond the file
        self.pool = sorted(free_pool or [])
        self.pages: dict[int, bytes] = {}

    def alloc(self, n: int = 1) -> int:
        if n == 1 and self.pool:
            return self.pool.pop(0)
        if n > 1 and len(self.pool) >= n:
            run = 1
            for i in range(1, len(self.pool)):
                run = run + 1 if self.pool[i] == self.pool[i - 1] + 1 else 1
                if run == n:
                    start = i - n + 1
                    pgno = self.pool[start]
                    del self.pool[start : start + n]
                    return pgno
        pgno = self.next_fresh
        self.next_fresh += n
        return pgno

    def put(self, pgno: int, data: bytes) -> None:
        assert len(data) == PSIZE
        self.pages[pgno] = data


def _page_header(pgno: int, flags: int, lower: int, upper: int) -> bytes:
    return struct.pack("<QHHHH", pgno, 0, flags, lower, upper)


def _build_node_page(
    pgno: int, flags: int, nodes: list[bytes]
) -> bytes:
    """Assemble a branch/leaf page: pointer array ascending from the
    header, node bodies packed descending from the page end (mdb packs
    top-down in insertion order; any valid placement reads back the
    same — pointers are explicit)."""
    ptrs: list[int] = []
    upper = PSIZE
    body = bytearray(PSIZE)
    for nd in nodes:
        sz = _even(len(nd))
        upper -= sz
        body[upper : upper + len(nd)] = nd
        ptrs.append(upper)
    lower = PAGEHDRSZ + 2 * len(nodes)
    assert lower <= upper, "page overflow"
    body[0:PAGEHDRSZ] = _page_header(pgno, flags, lower, upper)
    body[PAGEHDRSZ:lower] = struct.pack(f"<{len(nodes)}H", *ptrs)
    return bytes(body)


def _leaf_node(key: bytes, val: bytes, overflow_pgno: int | None) -> bytes:
    if overflow_pgno is None:
        return (
            struct.pack(
                "<HHHH", len(val) & 0xFFFF, (len(val) >> 16) & 0xFFFF, 0, len(key)
            )
            + key
            + val
        )
    return (
        struct.pack(
            "<HHHH", len(val) & 0xFFFF, (len(val) >> 16) & 0xFFFF,
            F_BIGDATA, len(key),
        )
        + key
        + struct.pack("<Q", overflow_pgno)
    )


def _branch_node(key: bytes, child_pgno: int) -> bytes:
    return (
        struct.pack(
            "<HHHH",
            child_pgno & 0xFFFF,
            (child_pgno >> 16) & 0xFFFF,
            (child_pgno >> 32) & 0xFFFF,
            len(key),
        )
        + key
    )


def _db_struct(
    pad: int, flags: int, depth: int, branch: int, leaf: int,
    overflow: int, entries: int, root: int,
) -> bytes:
    return struct.pack(
        "<IHHQQQQQ", pad, flags, depth, branch, leaf, overflow, entries, root
    )


def _build_tree(buf: _PageBuf, items: list[tuple[bytes, bytes]]) -> dict:
    """Build a B+tree for sorted `items` into `buf` (leaves + overflow
    runs bottom-up into branch levels); returns the MDB_db stats."""
    # --- leaves (+ overflow runs), filled greedily in key order
    leaf_pgnos: list[int] = []
    first_keys: list[bytes] = []
    cur_nodes: list[bytes] = []
    cur_free = PSIZE - PAGEHDRSZ
    cur_first: bytes | None = None
    n_overflow = 0

    def flush_leaf() -> None:
        nonlocal cur_nodes, cur_free, cur_first
        if not cur_nodes:
            return
        pgno = buf.alloc()
        buf.put(pgno, _build_node_page(pgno, P_LEAF, cur_nodes))
        leaf_pgnos.append(pgno)
        first_keys.append(cur_first)  # type: ignore[arg-type]
        cur_nodes, cur_free, cur_first = [], PSIZE - PAGEHDRSZ, None

    for key, val in items:
        if len(key) == 0 or len(key) > 511:
            raise ValueError(f"key size {len(key)} outside LMDB's 1..511")
        inline_sz = _even(NODESZ + len(key) + len(val))
        if inline_sz <= NODEMAX:
            node = _leaf_node(key, val, None)
        else:
            n_pages = (PAGEHDRSZ + len(val) + PSIZE - 1) // PSIZE
            ov = buf.alloc(n_pages)
            raw = bytearray(n_pages * PSIZE)
            raw[0:PAGEHDRSZ] = struct.pack(
                "<QHHI", ov, 0, P_OVERFLOW, n_pages
            )
            raw[PAGEHDRSZ : PAGEHDRSZ + len(val)] = val
            for i in range(n_pages):
                buf.put(ov + i, bytes(raw[i * PSIZE : (i + 1) * PSIZE]))
            n_overflow += n_pages
            node = _leaf_node(key, val, ov)
        need = _even(len(node)) + 2  # body + pointer slot
        if need > cur_free:
            flush_leaf()
        if cur_first is None:
            cur_first = key
        cur_nodes.append(node)
        cur_free -= need
    flush_leaf()

    # --- branch levels bottom-up; first node of each branch page has
    # an empty key (mdb convention for the leftmost separator)
    n_branch = 0
    depth = 1
    level = list(zip(leaf_pgnos, first_keys))
    if not level:
        root = P_INVALID
        depth = 0
    else:
        while len(level) > 1:
            depth += 1
            nxt: list[tuple[int, bytes]] = []
            i = 0
            while i < len(level):
                nodes: list[bytes] = []
                free = PSIZE - PAGEHDRSZ
                first_key = level[i][1]
                j = i
                while j < len(level):
                    key = b"" if j == i else level[j][1]
                    nd = _branch_node(key, level[j][0])
                    need = _even(len(nd)) + 2
                    if need > free:
                        break
                    nodes.append(nd)
                    free -= need
                    j += 1
                pgno = buf.alloc()
                buf.put(pgno, _build_node_page(pgno, P_BRANCH, nodes))
                n_branch += 1
                nxt.append((pgno, first_key))
                i = j
            level = nxt
        root = level[0][0]
    return {
        "depth": depth,
        "branch": n_branch,
        "leaf": len(leaf_pgnos),
        "overflow": n_overflow,
        "entries": len(items),
        "root": root,
    }


def write_lmdb(path: str, records: dict[bytes, bytes] | list[tuple[bytes, bytes]]) -> str:
    """Write a fresh LMDB environment directory containing `records` in
    its main DB (single bulk transaction). Returns the data.mdb path."""
    items = sorted(records.items() if isinstance(records, dict) else records)
    buf = _PageBuf(offset=2)  # meta pages 0 and 1 reserved
    db = _build_tree(buf, items)

    # --- meta pages: slot 0 = pristine env (txnid 0), slot 1 = the
    # committed transaction (txnid 1); readers pick the larger txnid
    last_pg = max(buf.pages, default=1)
    mapsize = max(1 << 20, (last_pg + 1) * PSIZE)

    empty_main = _db_struct(0, 0, 0, 0, 0, 0, 0, P_INVALID)
    main_db = _db_struct(
        0, 0, db["depth"], db["branch"], db["leaf"], db["overflow"],
        db["entries"], db["root"],
    )
    buf.put(0, _meta_page(0, 0, empty_main, mapsize, 1))
    buf.put(1, _meta_page(1, 1, main_db, mapsize, last_pg))

    os.makedirs(path, exist_ok=True)
    data_path = os.path.join(path, "data.mdb")
    with open(data_path, "wb") as f:
        f.write(
            b"".join(
                buf.pages.get(p, b"\x00" * PSIZE) for p in range(last_pg + 1)
            )
        )
    return data_path


def _meta_page(
    slot: int,
    txnid: int,
    main_db: bytes,
    mapsize: int,
    last_pg: int,
    free_db: bytes | None = None,
) -> bytes:
    if free_db is None:
        free_db = _db_struct(PSIZE, 0, 0, 0, 0, 0, 0, P_INVALID)
    body = bytearray(PSIZE)
    body[0:PAGEHDRSZ] = _page_header(slot, P_META, 0, 0)
    meta = (
        struct.pack("<IIQQ", MAGIC, VERSION, 0, mapsize)
        + free_db
        + main_db
        + struct.pack("<QQ", last_pg, txnid)
    )
    body[PAGEHDRSZ : PAGEHDRSZ + len(meta)] = meta
    return bytes(body)


def lmdb_append(
    path: str, records: dict[bytes, bytes] | list[tuple[bytes, bytes]]
) -> str:
    """Commit `records` into an EXISTING environment as a new write
    transaction — the incremental-write pattern of the reference's
    dataset builder (tools/create_lmdb_dataset.py:50-96 commits its
    writeCache every 1000 samples).

    Semantics mirror liblmdb's copy-on-write commit WITH page reclaim
    (r5, VERDICT r4 next-round #6): the new tree is written into pages
    NOT reachable from the live meta (everything the previous commit
    stopped using — the FREE_DBI reuse semantics), extending the file
    only when the free pool runs dry; the commit becomes visible only
    when the alternate meta slot (txnid & 1) is written with the new
    txnid — a crash mid-commit leaves the previous transaction fully
    readable, because its reachable pages are exactly the ones never
    touched. The pages this commit frees (the previous tree) are
    recorded in a real FREE-db B+tree entry {txnid → IDL} (count +
    descending pgnos, the mdb_midl layout), so a real liblmdb opening
    the env sees a consistent freelist and can continue reclaiming.
    Steady state for a fixed-size dataset is ~2 trees + 2 metas —
    N append cycles keep the file size bounded (pinned by test).
    New keys win over existing ones (put semantics)."""
    data_path = os.path.join(path, "data.mdb") if os.path.isdir(path) else path
    reader = LmdbReader(data_path)
    if reader.psize != PSIZE:
        # all page-grid arithmetic below assumes this writer's page
        # size; appending on a different grid would overwrite live
        # pages mid-tree and destroy the env
        raise NotImplementedError(
            f"lmdb_append writes {PSIZE}-byte pages; env has {reader.psize}"
        )
    new = dict(records.items() if isinstance(records, dict) else records)
    merged = sorted({**dict(reader.items()), **new}.items())

    with open(data_path, "rb") as f:
        f.seek(0, os.SEEK_END)
        n_pages = f.tell() // PSIZE
    # pages safe to overwrite = file extent minus metas minus everything
    # the live meta still reaches (its tree must survive a crash intact)
    reachable = reader.reachable_pages()
    gaps = [p for p in range(2, n_pages) if p not in reachable]
    buf = _PageBuf(offset=n_pages, free_pool=gaps)
    db = _build_tree(buf, merged)
    txnid = reader.txnid + 1
    # FREE db for the NEW meta: one entry covering EVERY page below the
    # fresh-extension mark that neither the new main tree nor the FREE
    # db itself uses — the whole previous tree AND pool leftovers AND
    # pages leaked by any earlier writer. (Recording only the
    # newly-freed set would orphan unused pool pages for a real
    # liblmdb, which consults only the FREE db, never a reachability
    # scan — the file would then grow permanently on every handoff.)
    # The FREE db draws from the same reuse pool (else the file grows
    # one page per commit); since its own pages must not appear in its
    # content, sizing iterates to a fixed point with MONOTONE exclusion
    # of every page any trial build consumed — terminates, and in
    # steady state the exclusion set equals the final build's pages.
    t0 = max(max(buf.pages, default=n_pages - 1), n_pages - 1) + 1
    main_pages = set(buf.pages)
    remaining_pool = list(buf.pool)
    consumed: set[int] = set()
    for _ in range(8):
        # the pool is IDENTICAL each iteration so the deterministic
        # allocator re-draws the same pages; only the listed content
        # shrinks by the consumed set — one extra pass then observes no
        # overlap and exits
        fbuf = _PageBuf(offset=t0, free_pool=list(remaining_pool))
        freed = sorted(
            set(range(2, t0)) - main_pages - consumed, reverse=True
        )
        idl = struct.pack("<Q", len(freed)) + b"".join(
            struct.pack("<Q", p) for p in freed
        )
        fdb = _build_tree(fbuf, [(struct.pack("<Q", txnid), idl)])
        overlap = set(fbuf.pages) & set(freed)
        if not overlap:
            break
        consumed |= set(fbuf.pages)
    else:
        raise RuntimeError("lmdb_append: FREE-db sizing did not converge")
    buf.pages.update(fbuf.pages)
    last_pg = max(max(buf.pages, default=1), reader.last_pg)
    mapsize = max(reader.mapsize, (last_pg + 1) * PSIZE)
    main_db = _db_struct(
        0, 0, db["depth"], db["branch"], db["leaf"], db["overflow"],
        db["entries"], db["root"],
    )
    free_db = _db_struct(
        PSIZE, 0, fdb["depth"], fdb["branch"], fdb["leaf"], fdb["overflow"],
        fdb["entries"], fdb["root"],
    )
    with open(data_path, "r+b") as f:
        for pgno in sorted(buf.pages):
            f.seek(pgno * PSIZE)
            f.write(buf.pages[pgno])
        f.flush()
        os.fsync(f.fileno())  # pages durable BEFORE the meta publish
        slot = txnid & 1
        f.seek(slot * PSIZE)
        f.write(_meta_page(slot, txnid, main_db, mapsize, last_pg, free_db))
        f.flush()
        os.fsync(f.fileno())
    return data_path


# ---------------------------------------------------------------- reader


class LmdbReader:
    """Read-only scan/get over a data.mdb file (no locks — the
    reference opens its datasets readonly/lock=False too)."""

    def __init__(self, path: str):
        if os.path.isdir(path):
            path = os.path.join(path, "data.mdb")
        # mmap, not read(): a multi-GB shard stays pageable instead of
        # resident per executor task — the reader touches only the
        # pages it walks (liblmdb's own access pattern)
        import mmap

        f = open(path, "rb")
        try:
            self.data = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        except (ValueError, OSError):  # empty file: keep bytes fallback
            self.data = f.read()
        finally:
            f.close()
        m0 = self._meta(0, PSIZE)
        self.psize = m0["psize"] or PSIZE
        m1 = self._meta(1, self.psize)
        meta = m0 if m0["txnid"] >= m1["txnid"] else m1
        self.root = meta["root"]
        self.entries = meta["entries"]
        self.txnid = meta["txnid"]
        self.mapsize = meta["mapsize"]
        self.free_root = meta["free_root"]
        self.last_pg = meta["last_pg"]

    def _meta(self, slot: int, psize: int) -> dict:
        off = slot * psize + PAGEHDRSZ
        magic, version = struct.unpack_from("<II", self.data, off)
        if magic != MAGIC:
            raise ValueError(f"bad LMDB magic {magic:#x} in meta {slot}")
        _addr, mapsize = struct.unpack_from("<QQ", self.data, off + 8)
        psize = struct.unpack_from("<I", self.data, off + 24)[0]
        free_root = struct.unpack_from("<Q", self.data, off + 24 + 40)[0]
        main_off = off + 24 + 48  # past the free-db struct
        (_pad, _flags, _depth, _b, _l, _o, entries, root) = struct.unpack_from(
            "<IHHQQQQQ", self.data, main_off
        )
        last_pg, txnid = struct.unpack_from("<QQ", self.data, main_off + 48)
        return {
            "psize": psize, "root": root, "entries": entries,
            "txnid": txnid, "mapsize": mapsize,
            "free_root": free_root, "last_pg": last_pg,
        }

    def _walk_tree(self, root: int, out: set[int]) -> None:
        if root == P_INVALID:
            return
        stack = [root]
        while stack:
            pgno = stack.pop()
            if pgno in out:  # corrupt files may contain pointer cycles
                continue
            out.add(pgno)
            flags, lower, mv = self._page(pgno)
            if flags & P_LEAF:
                for _lo, _hi, nf, _key, val_off in self._nodes(mv, lower):
                    if nf & F_BIGDATA:
                        (ov,) = struct.unpack_from("<Q", mv, val_off)
                        (count,) = struct.unpack_from(
                            "<I", self.data, ov * self.psize + 12
                        )
                        # bound by the file extent: a corrupt count
                        # (u32 max) would otherwise materialize a
                        # multi-GB page set — the same bomb class the
                        # cycle guards exist for
                        max_pg = len(self.data) // self.psize
                        if ov + count > max_pg:
                            raise ValueError(
                                f"LMDB: overflow run {ov}+{count} beyond "
                                f"the {max_pg}-page file"
                            )
                        out.update(range(ov, ov + count))
            elif flags & P_BRANCH:
                stack.extend(
                    lo | (hi << 16) | (nf << 32)
                    for lo, hi, nf, _k, _v in self._nodes(mv, lower)
                )

    def reachable_pages(self) -> set[int]:
        """Every page reachable from the LIVE meta (main tree + FREE db
        tree + overflow runs), excluding the two meta pages. The
        complement over the file extent is exactly the set a new commit
        may overwrite without endangering crash recovery — the basis of
        lmdb_append's page reuse."""
        out: set[int] = set()
        self._walk_tree(self.root, out)
        self._walk_tree(self.free_root, out)
        return out

    def freelist(self) -> dict[int, list[int]]:
        """FREE-db contents: {txnid: [pgno, ...]} (IDL values: count
        then descending pgnos, 8-byte native ints — mdb_midl layout)."""
        out: dict[int, list[int]] = {}
        if self.free_root == P_INVALID:
            return out
        stack = [self.free_root]
        seen: set[int] = set()
        while stack:
            pgno = stack.pop()
            if pgno in seen:
                raise ValueError(f"LMDB: cyclic FREE-db page chain at {pgno}")
            seen.add(pgno)
            flags, lower, mv = self._page(pgno)
            if flags & P_LEAF:
                for lo, hi, nf, key, val_off in self._nodes(mv, lower):
                    val = self._read_value(mv, lo, hi, nf, val_off)
                    (txn,) = struct.unpack("<Q", key)
                    (n,) = struct.unpack_from("<Q", val, 0)
                    out[txn] = [
                        struct.unpack_from("<Q", val, 8 * (1 + i))[0]
                        for i in range(n)
                    ]
            elif flags & P_BRANCH:
                stack.extend(
                    lo | (hi << 16) | (nf << 32)
                    for lo, hi, nf, _k, _v in self._nodes(mv, lower)
                )
        return out

    def _page(self, pgno: int) -> tuple[int, int, memoryview]:
        base = pgno * self.psize
        mv = memoryview(self.data)[base : base + self.psize]
        _pg, _pad, flags, lower, upper = struct.unpack_from("<QHHHH", mv, 0)
        return flags, lower, mv

    def _nodes(self, mv: memoryview, lower: int):
        n = (lower - PAGEHDRSZ) // 2
        for i in range(n):
            (off,) = struct.unpack_from("<H", mv, PAGEHDRSZ + 2 * i)
            lo, hi, flags, ksize = struct.unpack_from("<HHHH", mv, off)
            key = bytes(mv[off + NODESZ : off + NODESZ + ksize])
            yield lo, hi, flags, key, off + NODESZ + ksize

    def _read_value(self, mv, lo, hi, flags, val_off) -> bytes:
        dsize = lo | (hi << 16)
        if flags & F_BIGDATA:
            (ov,) = struct.unpack_from("<Q", mv, val_off)
            base = ov * self.psize
            return bytes(
                memoryview(self.data)[base + PAGEHDRSZ : base + PAGEHDRSZ + dsize]
            )
        return bytes(mv[val_off : val_off + dsize])

    def items(self):
        """Full sorted scan."""
        if self.root == P_INVALID:
            return
        stack = [self.root]
        seen: set[int] = set()
        while stack:
            pgno = stack.pop()
            if pgno in seen:  # a corrupt child pointer must fail loudly,
                raise ValueError(  # not spin the scan forever
                    f"LMDB: cyclic B+tree page chain at {pgno}"
                )
            seen.add(pgno)
            flags, lower, mv = self._page(pgno)
            if flags & P_LEAF:
                for lo, hi, nf, key, val_off in self._nodes(mv, lower):
                    yield key, self._read_value(mv, lo, hi, nf, val_off)
            elif flags & P_BRANCH:
                children = [
                    lo | (hi << 16) | (nf << 32)
                    for lo, hi, nf, _k, _v in self._nodes(mv, lower)
                ]
                stack.extend(reversed(children))
            else:
                raise ValueError(f"unexpected page flags {flags:#x} at {pgno}")

    def get(self, key: bytes) -> bytes | None:
        """Point lookup by B+tree descent (binary search per page)."""
        if self.root == P_INVALID:
            return None
        pgno = self.root
        for _depth in range(64):  # deeper = cyclic/corrupt, fail loudly
            flags, lower, mv = self._page(pgno)
            nodes = list(self._nodes(mv, lower))
            if flags & P_LEAF:
                for lo, hi, nf, k, val_off in nodes:
                    if k == key:
                        return self._read_value(mv, lo, hi, nf, val_off)
                return None
            # branch: rightmost child whose separator key <= target
            # (node 0 has the empty key = -infinity)
            child = None
            for lo, hi, nf, k, _v in nodes:
                if k == b"" or k <= key:
                    child = lo | (hi << 16) | (nf << 32)
                else:
                    break
            if child is None:
                raise ValueError("LMDB: branch page with no viable child")
            pgno = child
        else:
            raise ValueError("LMDB: B+tree descent exceeded 64 levels")


# ------------------------------------------------- dataset-level analogs


def write_lmdb_dataset(
    path: str, samples: list[tuple[bytes, str]]
) -> str:
    """create_lmdb_dataset.py:50-96 analog: image/label records keyed
    image-%09d / label-%09d (1-based) plus num-samples."""
    records: list[tuple[bytes, bytes]] = []
    for i, (image, label) in enumerate(samples, start=1):
        records.append((b"image-%09d" % i, image))
        records.append((b"label-%09d" % i, label.encode("utf-8")))
    records.append((b"num-samples", str(len(samples)).encode()))
    return write_lmdb(path, records)


def read_lmdb_dataset_records(path: str) -> list[tuple[int, bytes, str]]:
    """(index, image, label) rows from one LMDB shard — the per-shard
    body of the distributed reader (lmdb_dataset.py:62-77 get order)."""
    r = LmdbReader(path)
    num = r.get(b"num-samples")
    n = int(num) if num is not None else 0
    out = []
    for i in range(1, n + 1):
        img = r.get(b"image-%09d" % i)
        lab = r.get(b"label-%09d" % i)
        out.append((i, img if img is not None else b"",
                    lab.decode("utf-8") if lab is not None else ""))
    return out


def _walk_shards(spark, root_dir: str):
    """Hierarchical LMDB shard discovery (lmdb_dataset.py:37-58): leaf
    directories containing data.mdb under root_dir, sorted — driver-
    side metadata (cheap), shared by the image and text dataset
    readers. Returns a one-column (shard string) DataFrame."""
    shards = []
    for dirpath, _dirnames, filenames in os.walk(root_dir):
        if "data.mdb" in filenames:
            shards.append(dirpath)
    shards.sort()
    return spark.createDataFrame([(s,) for s in shards], "shard string")


def read_lmdb_dataset(spark, root_dir: str):
    """Distributed LMDB-dataset reader (LMDBDataSet analog): the record
    decode runs in executors — one task per shard, the same parallelism
    unit as the reference's per-env traversal.
    Output: (shard string, idx int, image binary, label string)."""
    from openocr_spark.rowmap import map_rows

    def kernel(row):
        for idx, img, lab in read_lmdb_dataset_records(row["shard"]):
            yield {"shard": row["shard"], "idx": idx, "image": img, "label": lab}

    return map_rows(
        _walk_shards(spark, root_dir),
        kernel,
        "shard string, idx int, image binary, label string",
    )


def read_text_lmdb_dataset_records(path: str) -> list[tuple[int, str]]:
    """(index, label) rows from one text-only LMDB shard — label-%09d
    keys plus num-samples, NO image keys (text_lmdb_dataset.py:
    100-113)."""
    r = LmdbReader(path)
    num = r.get(b"num-samples")
    n = int(num) if num is not None else 0
    out = []
    for i in range(1, n + 1):
        lab = r.get(b"label-%09d" % i)
        out.append((i, lab.decode("utf-8") if lab is not None else ""))
    return out


def read_text_lmdb_dataset(spark, root_dir: str):
    """TextLMDBDataSet analog (text_lmdb_dataset.py:34-113): LMDB shards
    carrying label-%09d keys ONLY (text-only corpora, no image keys) —
    the same hierarchical walk and num-samples contract as the image
    dataset, emitting (shard, idx, label). Closes the dataset-registry
    key-scheme matrix: LMDBDataSet / STRLMDBDataSet / LMDBDataSetTest
    share the image+label scheme read_lmdb_dataset handles."""
    from openocr_spark.rowmap import map_rows

    def kernel(row):
        for idx, lab in read_text_lmdb_dataset_records(row["shard"]):
            yield {"shard": row["shard"], "idx": idx, "label": lab}

    return map_rows(
        _walk_shards(spark, root_dir), kernel, "shard string, idx int, label string"
    )
