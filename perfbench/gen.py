"""Seeded input generation for the benchmark.

Every input the program sees is written here from the `--seed` argument
and the base tables in `perfbench/base/` (a copy of the sf0.01 star
schema + corpus).  The same seed writes byte-identical inputs.

Layout under the work directory:

    tables/<t>.parquet/part-*.parquet  key-jittered, row-shuffled tables,
                                       embeddings under a seeded rotation
    images/*.png                       PNG images in near-dup families
    statements/<yyyymmdd>/*.txt        the statement tree (etl_files)
    stream_stage/batch-NNNN/*.txt      statement batches the stream writer
                                       moves into the watched directory
    warm_stage/batch-NNNN/*.txt        the stream's warm-up batches
    centroid_src/<yyyymmdd>/*.txt      files the stream's IVF centroids come from
    manifest.json                      ground truth and input sizes
"""
import json
import os
import shutil
import struct
import zlib
import binascii

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# One shift per key family, applied to every table that carries it, so
# join cardinalities are unchanged.  Shifts are multiples of 10080
# (= 2^5 * 3^2 * 5 * 7) so `key % m` for the small moduli the operators
# use keeps its distribution.  doc_id/vec_id are not shifted: operators
# pick query vectors by `vec_id < 8`.
KEY_FAMILIES = {
    "orderkey": [("lineitem", "l_orderkey"), ("orders", "o_orderkey")],
    "custkey": [("orders", "o_custkey"), ("customer", "c_custkey")],
    "partkey": [("lineitem", "l_partkey"), ("part", "p_partkey")],
    "suppkey": [("lineitem", "l_suppkey"), ("supplier", "s_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
}
# Files per table directory: a 1 MB table in one file is one scan task;
# several part files let every scan split across the cores.
PARTS = 4
ROW_GROUP = 4096


def _write_table(tbl, path):
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    bounds = np.linspace(0, n, PARTS + 1).astype(int)
    for i in range(PARTS):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        pq.write_table(tbl.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:04d}.parquet"),
                       row_group_size=ROW_GROUP)


def _jittered_tables(seed):
    """The base tables with per-family key shifts and a row shuffle."""
    rng = np.random.default_rng([seed, 1])
    shifts = {f: int(rng.integers(1, 50)) * 10080 for f in KEY_FAMILIES}
    out = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(BASE, f"{t}.parquet"))
        tbl = tbl.replace_schema_metadata(None)
        for fam, cols in KEY_FAMILIES.items():
            for tt, c in cols:
                if tt == t:
                    i = tbl.schema.get_field_index(c)
                    arr = tbl.column(c).to_numpy() + shifts[fam]
                    tbl = tbl.set_column(i, c, pa.array(arr, tbl.schema.field(c).type))
        perm = rng.permutation(tbl.num_rows)
        out[t] = tbl.take(pa.array(perm))
    return out, shifts


def _vary_corpus(tables, seed):
    """The corpus under seeded variation: the embeddings under a signed
    permutation of their dimensions (orthogonal, so every inner product,
    and with it the near-dup and neighbour structure, is kept), and
    documents and embeddings in a seeded row order."""
    docs = tables["documents"].to_pandas()
    emb = tables["embeddings"]
    vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float32)
    rng = np.random.default_rng([seed, 2, 0])
    perm = rng.permutation(vecs.shape[1])
    sign = (rng.integers(0, 2, vecs.shape[1]) * 2 - 1).astype(np.float32)
    vecs = vecs[:, perm] * sign
    rng = np.random.default_rng([seed, 3])
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    docs_tbl = pa.Table.from_pandas(docs, schema=tables["documents"].schema,
                                    preserve_index=False)
    order = rng.permutation(len(vecs))
    emb_tbl = pa.table({
        "vec_id": pa.array(emb.column("vec_id").to_numpy()[order], pa.int64()),
        "embedding": pa.array([list(r) for r in vecs[order]], pa.list_(pa.float32())),
        "label": pa.array(emb.column("label").to_numpy()[order], pa.int32()),
    })
    return docs_tbl, emb_tbl


# ---------------------------------------------------------------- statements
# Statement templates.  The expected platform and business type are what
# the reference's classification matrix assigns; the business type
# follows the filename keyword.  The v1 six platforms carry every
# business type; the others (name stem, platform, business type, date
# style, lines) carry one.
V1 = [
    ("haomai", "【好买基金】交易确认单", "确认金额", "手续费", "cn"),
    ("tiantian", "天天基金网结算数据", "成交金额", "费用", "iso"),
    ("yingmi", "盈米财富对账单", "交易金额", "手续费", "slash"),
    ("jingdong", "京东肯特瑞交易回执", "确认金额", "手续费", "compact"),
    ("pingan", "平安银行代销确认", "发生金额", "费用合计", "dot"),
    ("changliang", "长量基金确认数据", "确认金额", "手续费", "iso"),
]
BIZ = [("shengouqueren", "申购确认", "CONF"), ("shengou", "申购", "SUB"),
       ("shuhui", "赎回", "RED"), ("fenhong", "分红", "DIV")]
OTHER = [
    ("lide_shengou", "lide", "SUB", "iso", [
        "基金交易确认书", "投资者姓名/名称：{product}", "基金代码：{code}",
        "业务类型：申购", "利得基金销售有限公司", "确认金额（元）：{amount}",
        "确认份额（份）：{shares}", "交易费用（元）：{fee}", "确认日期：{date}"]),
    ("jiaohang_shengouqueren", "jiaohang", "CONF", "cn", [
        "交通银行基金交易确认单", "投资者信息：{product}", "产品代码：{code}",
        "确认金额：{amount}", "确认份额：{shares}", "认申购手续费：{fee}",
        "确认日期：{date}"]),
    ("kenteri_shengouqueren", "jingdong", "CONF", "compact", [
        "京东肯特瑞基金销售有限公司", "申购确认回执", "产品名称：{product}",
        "基金代码：{code}", "确认金额：{amount}", "确认份额：{shares}",
        "手续费：{fee}", "确认日期：{date}"]),
    ("wangjin_shengou", "wangjin", "SUB", "iso", [
        "基金申购业务确认通知", "投资者名称：{product}", "基金代码：{code}",
        "申购金额小写：{amount}", "确认净额：{shares}", "费开户：{fee}",
        "网金基金销售服务有限公司", "确认日期：{date}"]),
    ("stmt_pa_shengou", "pingan", "SUB", "dot", [
        "平安银行股份有限公司", "基金交易确认通知书", "产品名称：{product}",
        "基金代码：{code}", "发生金额：{amount}", "确认份额：{shares}",
        "行E通交易平台", "费用合计：{fee}", "确认日期：{date}"]),
    ("jianhang_shengouqueren", "jianhang", "CONF", "slash", [
        "基金份额确认通知", "客 户 名 称：{product}", "基 金 代 码：{code}",
        "确 认 金 额：{amount}", "确 认 份 额：{shares}", "手续费：{fee}",
        "确认日期：{date}"]),
    ("tengyuan_shengou", "tengyuan", "SUB", "iso", [
        "基金交易确认单", "客户名称：{product}", "基金代码：{code}",
        "确认金额：{amount}", "确认份额：{shares}", "腾元基金销售有限公司",
        "手续费：{fee}", "确认日期：{date}"]),
    ("ronglianchuang_shengou", "ronglianchuang", "SUB", "cn", [
        "融联创同业交易平台确认单", "申购业务确认", "来款账号名称：{product}",
        "产品代码：{code}", "确认金额：{amount}", "确认份额：{shares}",
        "手续费：{fee}", "确认日期：{date}"]),
    ("hexun_shengouqueren", "hexun", "CONF", "compact", [
        "基金电子对账单", "账户名称：{product}", "基金代码：{code}",
        "和讯信息科技有限公司", "确认金额：{amount}", "确认份额：{shares}",
        "确认费用：{fee}", "确认日期：{date}"]),
    ("youchu_shengouqueren", "youchu", "CONF", "iso", [
        "中国邮政储蓄银行基金交易确认单", "客户名称：{product}",
        "产品代码：{code}", "确认金额（元）：{amount}",
        "确认份额（份）：{shares}", "手续费（元）：{fee}", "确认日期：{date}"]),
    ("jiyu_shengou", "jiyu", "SUB", "slash", [
        "基煜基金销售有限公司交易确认单", "账户名称：{product}",
        "产品代码：{code}", "确认金额：{amount}", "确认份额：{shares}",
        "手续费：{fee}", "确认日期：{date}"]),
    ("stmt_lt_shengou", "liantai", "SUB", "iso", [
        "联泰基金销售平台交易确认单", "投资账户：{product}", "交易信息（1/1）",
        "业务类型：申购", "基金代码：{code}", "确认金额（元）：{amount}",
        "确认份额（份）：{shares}", "手续费（元）：{fee}", "确认日期：{date}"]),
    ("stmt_tt_shengou", "tiantian", "SUB", "iso", [
        "基金电子交易对账单", "产品名称：{product}", "基金代码：{code}",
        "业务类型：申购", "天天基金网运营数据中心", "成交金额：{amount}",
        "确认份额：{shares}", "费用：{fee}", "确认日期：{date}"]),
]
PRODUCTS = ["安鑫回报混合A", "稳健增利债券C", "创新成长股票", "货币增值宝B",
            "价值精选混合", "量化对冲多策略"]


def _fmt_date(d, style):
    y, m, dd = d[:4], d[4:6], d[6:8]
    return {"cn": f"{y}年{m}月{dd}日", "iso": f"{y}-{m}-{dd}",
            "slash": f"{y}/{m}/{dd}", "compact": d, "dot": f"{y}.{m}.{dd}"}[style]


def _money(cents):
    return f"{cents // 100:,}.{cents % 100:02d}"


def _v1_lines(sig, amt_label, fee_label, blabel, with_code):
    lines = [sig, "产品名称：{product}"]
    if with_code:
        lines.append("基金代码：{code}")
    return lines + [f"业务类型：{blabel}", f"{amt_label}：{{amount}}",
                    "确认份额：{shares}", f"{fee_label}：{{fee}}", "确认日期：{date}"]


def _templates():
    """(name stem, platform, biz, style, lines, valid)."""
    out = []
    for pin, sig, amt, fee, style in V1:
        for key, label, biz in BIZ:
            out.append((f"{pin}_{key}", pin, biz, style,
                        _v1_lines(sig, amt, fee, label, True), True))
    for stem, plat, biz, style, lines in OTHER:
        out.append((stem, plat, biz, style, lines, True))
    return out


DEFECTS = [
    # unknown platform signature: platform UNKNOWN, row invalid
    ("weizhi_shengou", "UNKNOWN", "SUB", "iso",
     _v1_lines("未知平台数据", "确认金额", "手续费", "申购", True), False),
    # known platform, fund-code line missing: row invalid
    ("haomai_shuhui_nocode", "haomai", "RED", "cn",
     _v1_lines("【好买基金】交易确认单", "确认金额", "手续费", "赎回", False), False),
]


def dates(n, start=(2024, 1, 1)):
    import datetime
    d0 = datetime.date(*start)
    return [(d0 + datetime.timedelta(days=i)).strftime("%Y%m%d") for i in range(n)]


def _statement(rng, tpl, date, seq):
    stem, plat, biz, style, lines, valid = tpl
    amount_c = int(rng.integers(1_000_00, 5_000_000_00))
    shares_c = amount_c * int(rng.integers(50, 99)) // 100
    fee_c = amount_c * int(rng.integers(5, 20)) // 10000
    code = int(rng.integers(1, 1000))
    body = "\n".join(lines).format(
        product=PRODUCTS[int(rng.integers(0, len(PRODUCTS)))],
        code=f"{code:06d}", amount=_money(amount_c), shares=_money(shares_c),
        fee=_money(fee_c), date=_fmt_date(date, style)) + "\n"
    name = f"{stem}_{date}_{seq:03d}.txt"
    has_code = "{code}" in "\n".join(lines)
    truth = {"file_name": name, "batch_date": date, "platform": plat,
             "biz_type": biz, "fund_code": f"{code:06d}" if has_code else None,
             "amount": amount_c / 100.0, "trade_date": date, "valid": valid}
    return name, body, truth


def statement_tree(root, seed, n_days, per_template, defect_rate):
    """Dated folders: every template `per_template` times a day, plus
    seeded defect files.  Returns the ground-truth rows."""
    rng = np.random.default_rng([seed, 4])
    tpls = _templates()
    truth = []
    for date in dates(n_days):
        folder = os.path.join(root, date)
        os.makedirs(folder, exist_ok=True)
        seq = 0
        for tpl in tpls:
            for _ in range(per_template):
                name, body, t = _statement(rng, tpl, date, seq)
                seq += 1
                with open(os.path.join(folder, name), "w", encoding="utf-8") as f:
                    f.write(body)
                truth.append(t)
        for tpl in DEFECTS:
            if rng.random() < defect_rate:
                name, body, t = _statement(rng, tpl, date, seq)
                seq += 1
                with open(os.path.join(folder, name), "w", encoding="utf-8") as f:
                    f.write(body)
                truth.append(t)
    return truth


def stream_stage(root, seed, n_batches, files_per_batch, start=(2025, 1, 1)):
    """Statement batches for the open-loop stream writer.  Batch k is
    one dated folder; every file name is unique across batches."""
    rng = np.random.default_rng([seed, 5])
    tpls = _templates() + DEFECTS
    truth = []
    for k, date in enumerate(dates(n_batches, start=start)):
        folder = os.path.join(root, f"batch-{k:04d}", date)
        os.makedirs(folder, exist_ok=True)
        for j in range(files_per_batch):
            tpl = tpls[int(rng.integers(0, len(tpls)))]
            name, body, t = _statement(rng, tpl, date, j)
            with open(os.path.join(folder, name), "w", encoding="utf-8") as f:
                f.write(body)
            t["batch"] = k
            truth.append(t)
    return truth


# -------------------------------------------------------------------- images
def _chunk(tag, payload):
    return (struct.pack(">I", len(payload)) + tag + payload +
            struct.pack(">I", binascii.crc32(tag + payload) & 0xFFFFFFFF))


def _png(w, h, raster):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + row for row in raster)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) +
            _chunk(b"IDAT", zlib.compress(raw, 6)) + _chunk(b"IEND", b""))


def _pixels(base, w, h, rng):
    """RGB planes: the family's 8x8 colour grid scaled to w x h by
    nearest neighbour, plus small per-image noise."""
    y, x = np.mgrid[0:h, 0:w]
    img = base[(y * 8) // h, (x * 8) // w].astype(np.int64)
    img = np.clip(img + rng.integers(-6, 7, size=img.shape), 0, 255)
    return img[..., 0], img[..., 1], img[..., 2]


def _phash(r, g, b, w, h):
    """8x8 nearest-neighbour average hash over integer luma, bit j set
    iff thumb*64 > sum (the decoder's own rule)."""
    luma = (r * 299 + g * 587 + b * 114) // 1000
    thumb = [int(luma[y * h // 8][x * w // 8]) for y in range(8) for x in range(8)]
    tsum = sum(thumb)
    lo = hi = 0
    for j, v in enumerate(thumb):
        if v * 64 > tsum:
            if j < 32:
                lo |= 1 << j
            else:
                hi |= 1 << (j - 32)
    return lo, hi


def _raster(r, g, b):
    return [bytes(np.stack([r[y], g[y], b[y]], axis=1).astype(np.uint8).ravel())
            for y in range(r.shape[0])]


def images(root, seed, n_families, per_family):
    """PNG families (one colour grid, several sizes and noise draws),
    plus two corrupt files.  Returns (file_name, n_pixels, phash_lo,
    phash_hi) of the decodable ones."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 6])
    rows = []
    for f in range(n_families):
        base = rng.integers(0, 256, size=(8, 8, 3))
        for k in range(per_family):
            w = int(16 + rng.integers(0, 6) * 8)
            h = int(16 + rng.integers(0, 6) * 8)
            r, g, b = _pixels(base, w, h, rng)
            name = f"img_{f:04d}_{k}.png"
            with open(os.path.join(root, name), "wb") as fh:
                fh.write(_png(w, h, _raster(r, g, b)))
            lo, hi = _phash(r, g, b, w, h)
            rows.append((name, w * h, lo, hi))
    with open(os.path.join(root, "img_bad_magic.png"), "wb") as fh:
        fh.write(b"NOTAPNG" + b"\x00" * 64)
    r, g, b = _pixels(rng.integers(0, 256, size=(8, 8, 3)), 24, 16, rng)
    data = _png(24, 16, _raster(r, g, b))
    with open(os.path.join(root, "img_truncated.png"), "wb") as fh:
        fh.write(data[: len(data) // 2])
    return rows


def image_pipeline_expected(rows, tau=15):
    """Expected Multimodal.imagePipeline output: connected components of
    the hamming<=tau graph, canonical = most pixels then file name."""
    parent = list(range(len(rows)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a
    hashes = [(lo & 0xFFFFFFFF) | (hi << 32) for _, _, lo, hi in rows]
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            if bin(hashes[a] ^ hashes[b]).count("1") <= tau:
                parent[find(a)] = find(b)
    groups = {}
    for a in range(len(rows)):
        groups.setdefault(find(a), []).append(a)
    out = []
    for members in groups.values():
        names = sorted(rows[m][0] for m in members)
        ranked = sorted(members, key=lambda m: (-rows[m][1], rows[m][0]))
        keep = rows[ranked[0]][0]
        for m in members:
            out.append({"file_name": rows[m][0], "cluster_key": names[0],
                        "cluster_size": len(members), "n_pixels": rows[m][1],
                        "is_canonical": m == ranked[0], "keep_file": keep})
    return sorted(out, key=lambda r: (r["cluster_key"], r["file_name"]))


# ---------------------------------------------------------------- per workload
def _dir_mb(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total / 2**20


def generate(work, workload, seed, cfg):
    """Write the inputs `workload` needs under `work` and return the
    manifest (ground truth plus input sizes)."""
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    man = {"seed": seed, "workload": workload, "sizes": {}}
    if workload == "query_mix":
        tables, shifts = _jittered_tables(seed)
        man["key_shifts"] = shifts
        tables["documents"], tables["embeddings"] = _vary_corpus(tables, seed)
        rows = images(os.path.join(work, "images"), seed,
                      cfg["image_families"], cfg["image_per_family"])
        man["image_expected"] = image_pipeline_expected(rows)
        man["sizes"]["images"] = len(rows)
        d = os.path.join(work, "tables")
        for t, tbl in tables.items():
            _write_table(tbl, os.path.join(d, f"{t}.parquet"))
            man["sizes"][t] = tbl.num_rows
        man["sizes"]["tables_mb"] = round(_dir_mb(d), 3)
    if workload == "etl_files":
        truth = statement_tree(os.path.join(work, "statements"), seed,
                               cfg["etl_days"], cfg["etl_per_template"], 0.5)
        man["truth"] = truth
        man["sizes"]["files"] = len(truth)
        man["sizes"]["days"] = cfg["etl_days"]
        man["sizes"]["input_mb"] = round(_dir_mb(os.path.join(work, "statements")), 3)
    if workload == "statement_stream":
        truth = stream_stage(os.path.join(work, "stream_stage"), seed,
                             cfg["stream_batches"], cfg["stream_files_per_batch"])
        man["truth"] = truth
        man["sizes"]["files"] = len(truth)
        man["sizes"]["batches"] = cfg["stream_batches"]
        # centroid seed files and the warm-up stream batch
        statement_tree(os.path.join(work, "centroid_src"), seed + 2, 1, 1, 0.0)
        stream_stage(os.path.join(work, "warm_stage"), seed + 1, cfg["warm_batches"],
                     cfg["stream_files_per_batch"], start=(2024, 6, 1))
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(man, f)
    return man
