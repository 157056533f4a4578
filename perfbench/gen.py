"""Seeded input generator for the warehouse-DAG and curation benchmark.

Everything the benchmark feeds the program is made here from one integer
seed, and so is every count the program's outputs are checked against.
The same seed gives byte-identical files (``test_bench.py`` pins this).

``dag_trickle`` writes one directory per drop round::

    <out>/rounds/r0000/{topic_db,topic_log,table_process_config,
                        doc_paras,embeddings}.parquet
    <out>/expected.json   # per-round cumulative expected output counts

Round 0 is the priming round: a full-size round that also carries the
routing config row, the hot DIM keys and the curation seeds, but no
payment rows.
``curation_batch`` writes ``docs.parquet``, ``vecs.parquet`` and
``expected.json``.
"""
import json
import os
import random
import zlib
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

HOUR_S = 3600
BASE_HOUR_S = 1_700_000_000 // HOUR_S * HOUR_S  # 2023-11-14T22:00Z
MS_OFFSET = 137  # log ts never sit on a window or watermark boundary
SEM_CELLS = 16   # GmallApp.startFromFiles default semCells
IVF_K = 3        # curation_batch: top-k per query, queries = ids 0..k-1
EMB_DIM = 32

# dag_trickle knobs, the input properties the DAG's behaviour depends on:
#   orders        orders per round (order_info + 1-3 details, each with
#                 an activity and a coupon row; some paid, cancelled,
#                 refunded)
#   users         user_info envelopes per round
#   hot_keys      size of the hot user_info key set made in round 0
#   hot_share     share of user_info envelopes that re-upsert a hot key
#   insert_share  share of the other user_info envelopes that are inserts
#   dirty_share   share of unparseable envelopes in topic_db / topic_log
#   disorder      share of rows moved out of generation order per file
#   step_s        event-time advance per round (s); > 1 h + 14 s closes
#                 every DWS window of the previous round
#   span_s        event-time span of one round's rows (s)
#   straddle      share of the round's last-5-min orders whose rows are
#                 split across this round and the next
#   pages, starts, keywords   behaviour-log records per round
TRICKLE = dict(orders=40, users=24, hot_keys=24, hot_share=0.5,
               insert_share=0.7, dirty_share=0.01, disorder=0.2,
               step_s=HOUR_S + 600, span_s=600, straddle=0.3, pages=1500,
               starts=200, keywords=200)
# Rounds generated: the priming round and at most three measured rounds.
# A run measures the rounds that start within --seconds.
ROUNDS = 4
# Curation-leg seeds, in round 0 only: paragraphs for the fuzzy query and
# one embedding per SemDeDup cell for the sem query. Later rounds feed the
# curation leg nothing, so those two queries run no batch in a measured
# round (README.md, "Sizing and budget").
SEED_PARAS = 4
# curation_batch corpus: documents in near-duplicate clusters, unique and
# short documents, and vectors in `vec_clusters` orthogonal clusters.
CURATION = dict(doc_clusters=30, cluster_max=5, unique_docs=125,
                short_docs=15, doc_words=40, vec_clusters=16,
                vec_cluster_size=16, vec_dim=64)

DIC_SOURCE = ["2401", "2402"]
DIC_APPRAISE = ["1201", "1202", "1203"]
DIC_PAY = ["1101", "1102"]
DIC_REFUND_TYPE = ["1501", "1502"]
DIC_REASON = ["1301", "1302"]
KEYWORDS = ["phone", "laptop", "shoes", "coat", "tea", "lamp", "desk",
            "chair", "watch", "bag", "camera", "tv", "book", "cup", "pen",
            "kettle", "fan", "rice", "soap", "towel"]
VC = ["v2.1.132", "v2.1.134", "v2.0.1"]
CH = ["xiaomi", "huawei", "oppo", "web", "Appstore"]
AR = ["1", "2", "3", "4", "5"]
PAGES = ["home", "good_list", "good_detail", "cart", "trade", "payment",
         "mine", "search"]
SYLL = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "pe", "du", "ga",
        "ho", "ji", "ke", "la", "mo", "nu", "pi", "qu", "re", "si", "to"]


def _env(table, typ, ts, data, old=None, xid=0):
    return json.dumps({"database": "gmall", "table": table, "type": typ,
                       "ts": ts, "xid": xid, "commit": True, "data": data,
                       "old": old}, separators=(",", ":"))


def _dirty(rnd):
    return rnd.choice(['{"database":"gmall","table":', "not json at all",
                       '{"common":{"mid":"m1"', "[1,2", "{{}}"])


def _disorder(rnd, rows, share):
    """Move about `share` of the rows to random positions."""
    n = len(rows)
    for _ in range(int(n * share)):
        i, j = rnd.randrange(n), rnd.randrange(n)
        rows[i], rows[j] = rows[j], rows[i]
    return rows


def _write_values(path, values):
    pq.write_table(pa.table({"value": pa.array(values, pa.string())}), path,
                   compression="snappy")


# Output counts the generator tracks, each checked after a dag_trickle run.
COUNTED = ("traffic_page", "traffic_start", "traffic_display", "traffic_action",
           "traffic_err", "cart_add", "coupon_get", "coupon_order", "coupon_pay",
           "favor_add", "comment", "user_register", "order_pre", "cancel",
           "pay_success", "order_refund", "refund_pay_suc", "dws_keyword_rows",
           "dws_keyword_sum", "dws_traffic_rows", "dws_traffic_pv",
           "dws_traffic_sv", "dws_traffic_dur")


class Expect:
    """Cumulative output counts, one snapshot per round."""

    def __init__(self):
        self.c = Counter()
        self.dim_user = {}   # id -> name (newest wins)
        self.dim_pay = set()
        self.kw = Counter()  # (window_start_ms, word) -> count, open
        self.kw_wm = None
        self.tr = defaultdict(lambda: [0, 0, 0])  # open traffic windows
        self.tr_wm = None
        self.fuzzy_groups = set()
        self.sem_groups = set()
        self.snapshots = []

    def close_windows(self):
        if self.kw_wm is not None:
            for k in [k for k in self.kw if k[0] + 10_000 <= self.kw_wm]:
                self.c["dws_keyword_rows"] += 1
                self.c["dws_keyword_sum"] += self.kw.pop(k)
        if self.tr_wm is not None:
            for k in [k for k in self.tr if k[0] + HOUR_S * 1000 <= self.tr_wm]:
                pv, sv, dur = self.tr.pop(k)
                self.c["dws_traffic_rows"] += 1
                self.c["dws_traffic_pv"] += pv
                self.c["dws_traffic_sv"] += sv
                self.c["dws_traffic_dur"] += dur

    def add_order(self, counts, pays):
        self.c.update(counts)
        self.dim_pay.update(pays)

    def snapshot(self):
        d = {k: self.c[k] for k in COUNTED}
        d["dim_user_info"] = len(self.dim_user)
        d["dim_user_info_crc"] = sum(
            zlib.crc32(f"{k}|{v}".encode()) for k, v in self.dim_user.items())
        d["dim_payment_info"] = len(self.dim_pay)
        d["fuzzy_survivors"] = len(self.fuzzy_groups)
        d["sem_survivors"] = len(self.sem_groups)
        self.snapshots.append(d)


class DagGen:
    def __init__(self, seed, knobs):
        self.rnd = random.Random(seed)
        self.k = knobs
        self.exp = Expect()
        self.next_order = 0
        self.next_user = 0
        self.next_misc = 0
        self.hot = []
        self.carry = []       # straddling order rows for the next round
        self.pending = []     # (counts, payment ids) they complete

    def uid(self):
        self.next_misc += 1
        return str(self.next_misc)

    # ------------------------------------------------------------ db ----
    def order_rows(self, ts, pay=True):
        """One order's envelopes and the output counts they add.

        Returns (details, rest, counts, payment ids): `details` are the
        order_detail/activity/coupon rows. They produce no output until
        the order_info rows in `rest` arrive, so a straddling order can
        send `details` one round before `rest`."""
        rnd, e, pays = self.rnd, Counter(), []
        n = self.next_order
        self.next_order += 1
        oid = f"o{n}"
        user = str(rnd.randrange(1, 100000))
        prov = str(rnd.randrange(1, 35))
        rows = []
        n_od = rnd.randint(1, 3)
        ods = [(f"od{n}_{j}", str(rnd.randrange(1, 500))) for j in range(n_od)]
        oi = [_env("order_info", "insert", ts,
                   {"id": oid, "user_id": user, "province_id": prov,
                    "operate_time": None, "total_amount": "99.00",
                    "order_status": "1001"})]
        fate = rnd.random()
        cancel = fate < 0.1
        refund = 0.1 <= fate < 0.3
        refund_done = refund and rnd.random() < 0.5
        if cancel:
            oi.append(_env("order_info", "update", ts,
                           {"id": oid, "user_id": user, "province_id": prov,
                            "order_status": "1003", "total_amount": "99.00"},
                           {"order_status": "1001"}))
        if refund:
            oi.append(_env("order_info", "update", ts,
                           {"id": oid, "user_id": user, "province_id": prov,
                            "order_status": "1005", "total_amount": "99.00"},
                           {"order_status": "1001"}))
        if refund_done:
            oi.append(_env("order_info", "update", ts,
                           {"id": oid, "user_id": user, "province_id": prov,
                            "order_status": "1006", "total_amount": "99.00"},
                           {"order_status": "1005"}))
        rest = list(oi)
        for od, sku in ods:
            rows.append(_env("order_detail", "insert", ts,
                             {"id": od, "order_id": oid, "sku_id": sku,
                              "sku_name": f"sku{sku}", "sku_num": "1",
                              "create_time": "2023-11-14 22:00:00",
                              "source_id": "1",
                              "source_type": rnd.choice(DIC_SOURCE),
                              "split_activity_amount": "0.00",
                              "split_coupon_amount": "0.00",
                              "split_total_amount": "33.00"}))
            rows.append(_env("order_detail_activity", "insert", ts,
                             {"id": self.uid(), "order_detail_id": od,
                              "activity_id": "1", "activity_rule_id": "2"}))
            rows.append(_env("order_detail_coupon", "insert", ts,
                             {"id": self.uid(), "order_detail_id": od,
                              "coupon_id": "3"}))
        e["order_pre"] += n_od * len(oi)
        e["cancel"] += n_od if cancel else 0
        if rnd.random() < 0.5 and pay:
            pid = f"p{n}"
            rest.append(_env("payment_info", "update", ts,
                             {"id": pid, "user_id": user, "order_id": oid,
                              "payment_type": rnd.choice(DIC_PAY),
                              "payment_status": "1602",
                              "callback_time": "2023-11-14 22:10:00",
                              "total_amount": "99.00"},
                             {"payment_status": "1601"}))
            e["pay_success"] += n_od * len(oi)
            pays.append(pid)
        if refund:
            od, sku = ods[0]
            rest.append(_env("order_refund_info", "insert", ts,
                             {"id": f"ri{n}", "user_id": user, "order_id": oid,
                              "sku_id": sku,
                              "refund_type": rnd.choice(DIC_REFUND_TYPE),
                              "refund_num": "1", "refund_amount": "33.00",
                              "refund_reason_type": rnd.choice(DIC_REASON),
                              "refund_reason_txt": "broken",
                              "create_time": "2023-11-14 22:20:00"}))
            e["order_refund"] += 1
            if refund_done:
                rest.append(_env("refund_payment", "update", ts,
                                 {"id": f"rp{n}", "order_id": oid,
                                  "sku_id": sku,
                                  "payment_type": rnd.choice(DIC_PAY),
                                  "refund_status": "0702",
                                  "callback_time": "2023-11-14 22:30:00",
                                  "total_amount": "33.00"},
                                 {"refund_status": "0701"}))
                e["refund_pay_suc"] += 1
        return rows, rest, e, pays

    def misc_rows(self, ts, n_orders):
        """cart, coupon, favor and comment envelopes, ~2/3 per order."""
        rnd, e, rows = self.rnd, self.exp.c, []
        for _ in range(n_orders * 2 // 3 + 1):
            t = rnd.random()
            i = self.uid()
            if t < 0.3:
                src = rnd.choice(DIC_SOURCE + ["2403"])
                typ = rnd.choice(["insert", "update", "update"])
                new, old = rnd.randint(1, 5), rnd.randint(1, 5)
                data = {"id": i, "user_id": "1", "sku_id": "2",
                        "cart_price": "9.90", "sku_num": str(new),
                        "sku_name": "x", "is_checked": "1",
                        "create_time": "2023-11-14 22:00:00",
                        "operate_time": None, "is_ordered": "0",
                        "order_time": None, "source_type": src,
                        "source_id": "7"}
                rows.append(_env("cart_info", typ, ts, data,
                                 None if typ == "insert" else {"sku_num": str(old)}))
                grew = typ == "insert" or new > old
                e["cart_add"] += 1 if grew and src in DIC_SOURCE else 0
            elif t < 0.55:
                kind = rnd.randrange(4)
                data = {"id": i, "coupon_id": "5", "user_id": "1",
                        "order_id": "o1", "coupon_status": "1401",
                        "get_time": "2023-11-14 22:00:00"}
                if kind == 0:
                    rows.append(_env("coupon_use", "insert", ts, data))
                    e["coupon_get"] += 1
                elif kind == 1:
                    data.update(coupon_status="1402",
                                using_time="2023-11-14 22:05:00")
                    rows.append(_env("coupon_use", "update", ts, data,
                                     {"coupon_status": "1401"}))
                    e["coupon_order"] += 1
                elif kind == 2:
                    data.update(coupon_status="1403",
                                used_time="2023-11-14 22:09:00")
                    rows.append(_env("coupon_use", "update", ts, data,
                                     {"coupon_status": "1402"}))
                    e["coupon_pay"] += 1
                else:
                    rows.append(_env("coupon_use", "update", ts, data,
                                     {"get_time": "2023-11-14 21:00:00"}))
            elif t < 0.8:
                typ = rnd.choice(["insert", "update"])
                cancel = rnd.choice(["0", "1"])
                rows.append(_env("favor_info", typ, ts,
                                 {"id": i, "user_id": "1", "sku_id": "2",
                                  "is_cancel": cancel,
                                  "create_time": "2023-11-14 22:00:00"},
                                 None if typ == "insert" else {"is_cancel": "1"}))
                e["favor_add"] += 1 if typ == "insert" or cancel == "0" else 0
            else:
                ap = rnd.choice(DIC_APPRAISE + ["9999"])
                rows.append(_env("comment_info", "insert", ts,
                                 {"id": i, "user_id": "1", "sku_id": "2",
                                  "order_id": "o1", "appraise": ap,
                                  "comment_txt": "good",
                                  "create_time": "2023-11-14 22:00:00"}))
                e["comment"] += 1 if ap in DIC_APPRAISE else 0
        return rows

    def user_rows(self, ts, n, prime=False):
        """user_info envelopes; a key is upserted at most once per round,
        so the newest value of every key is well defined."""
        rnd, e, rows = self.rnd, self.exp.c, []
        n_hot = 0 if prime else min(len(self.hot), round(n * self.k["hot_share"]))
        used = set(rnd.sample(self.hot, n_hot))
        picks = [(u, "update") for u in sorted(used, key=lambda u: int(u[1:]))]
        for _ in range(n - n_hot):
            u = f"u{rnd.randint(1, self.next_user)}" if self.next_user else None
            if prime or u is None or u in used or \
                    rnd.random() < self.k["insert_share"]:
                self.next_user += 1
                u, typ = f"u{self.next_user}", "insert"
            else:
                typ = "update"
            used.add(u)
            picks.append((u, typ))
        for uid, typ in picks:
            name = f"n{uid}_{rnd.randrange(10**6)}"
            rows.append(_env("user_info", typ, ts,
                             {"id": uid, "name": name, "gender": "F",
                              "create_time": "2023-11-14 22:00:00"},
                             None if typ == "insert" else {"name": "old"}))
            self.exp.dim_user[uid] = name
            e["user_register"] += 1 if typ == "insert" else 0
            if prime:
                self.hot.append(uid)
        return rows

    # ----------------------------------------------------------- log ----
    def log_rows(self, t0_ms, span_ms, pages, starts, keywords):
        rnd, e, rows = self.rnd, self.exp, []
        c = e.c
        kw_max = tr_max = None

        def ts_ms():
            return t0_ms + rnd.randrange(span_ms // 1000) * 1000 + MS_OFFSET

        def common():
            return {"mid": f"mid{rnd.randrange(5000)}", "vc": rnd.choice(VC),
                    "ch": rnd.choice(CH), "ar": rnd.choice(AR),
                    "is_new": rnd.choice(["0", "1"]),
                    "uid": str(rnd.randrange(1, 1000)), "os": "Android 11",
                    "md": "Xiaomi 9", "ba": "Xiaomi"}

        def add_traffic(cm, last, dur, ts):
            key = (ts // (HOUR_S * 1000) * HOUR_S * 1000,
                   cm["vc"], cm["ch"], cm["ar"], cm["is_new"])
            w = e.tr[key]
            w[0] += 1
            w[1] += 1 if last is None else 0
            w[2] += dur

        for _ in range(pages):
            ts, cm = ts_ms(), common()
            last = rnd.choice([None] + PAGES)
            dur = rnd.randrange(100, 20000)
            rec = {"common": cm,
                   "page": {"page_id": rnd.choice(PAGES), "last_page_id": last,
                            "item": str(rnd.randrange(100)), "item_type": "sku_id",
                            "during_time": dur}}
            nd, na = rnd.randint(0, 3), rnd.randint(0, 2)
            if nd:
                rec["displays"] = [{"display_type": "promotion", "item": str(j),
                                    "item_type": "sku_id", "pos_id": j,
                                    "order": j + 1} for j in range(nd)]
            if na:
                rec["actions"] = [{"action_id": "cart_add", "item": str(j),
                                   "item_type": "sku_id", "ts": ts - 10}
                                  for j in range(na)]
            if rnd.random() < 0.05:
                rec["err"] = {"error_code": 1245, "msg": "timeout"}
                c["traffic_err"] += 1
            rec["ts"] = ts
            rows.append(json.dumps(rec, separators=(",", ":")))
            c["traffic_page"] += 1
            c["traffic_display"] += nd
            c["traffic_action"] += na
            add_traffic(cm, last, dur, ts)
            tr_max = ts if tr_max is None else max(tr_max, ts)
        for _ in range(starts):
            ts = ts_ms()
            rec = {"common": common(),
                   "start": {"entry": "icon", "open_ad_id": 3,
                             "loading_time": 1200, "open_ad_ms": 3000,
                             "open_ad_skip_ms": 0}}
            if rnd.random() < 0.05:
                rec["err"] = {"error_code": 2001, "msg": "crash"}
                c["traffic_err"] += 1
            rec["ts"] = ts
            rows.append(json.dumps(rec, separators=(",", ":")))
            c["traffic_start"] += 1
        for _ in range(keywords):
            ts, cm = ts_ms(), common()
            words = rnd.sample(KEYWORDS, rnd.randint(1, 3))
            dur = rnd.randrange(100, 5000)
            rows.append(json.dumps(
                {"common": cm,
                 "page": {"page_id": "good_list", "last_page_id": "search",
                          "item": " ".join(words), "item_type": "keyword",
                          "during_time": dur}, "ts": ts},
                separators=(",", ":")))
            c["traffic_page"] += 1
            add_traffic(cm, "search", dur, ts)
            tr_max = ts if tr_max is None else max(tr_max, ts)
            kw_max = ts if kw_max is None else max(kw_max, ts)
            for w in words:
                e.kw[(ts // 10_000 * 10_000, w)] += 1
        # watermarks advance at batch end; the no-data batch then emits
        # every window whose end is at or before them
        if kw_max is not None:
            e.kw_wm = max(e.kw_wm or 0, kw_max - 2_000)
        if tr_max is not None:
            e.tr_wm = max(e.tr_wm or 0, tr_max - 14_000)
        return rows

    # ----------------------------------------------------- curation ----
    def para_rows(self, n):
        """`n` paragraphs, some near-duplicates of earlier ones (one fuzzy
        survivor per group)."""
        rnd, rows, bases = self.rnd, [], []
        for i in range(n):
            if bases and rnd.random() < 0.6:
                g, words = rnd.choice(bases)
                text = " ".join(words[:-1] + [_word(rnd)])
            else:
                g = len(bases)
                words = _sentence(rnd, 30)
                bases.append((g, words))
                text = " ".join(words)
            self.exp.fuzzy_groups.add(g)
            rows.append(((i + 1) * 100000, text))
        return rows

    def vec_rows(self):
        """One embedding per SemDeDup cell."""
        self.exp.sem_groups.update(range(SEM_CELLS))
        return [(g, _vec(self.rnd, g, EMB_DIM), g) for g in range(SEM_CELLS)]

    # ---------------------------------------------------------- rounds --
    def round(self, r, out_dir):
        k, rnd = self.k, self.rnd
        prime = r == 0
        t0 = BASE_HOUR_S + r * k["step_s"]
        db = list(self.carry)
        self.carry = []
        for inc, pays in self.pending:
            self.exp.add_order(inc, pays)
        self.pending = []
        if prime:
            db += self.user_rows(t0 + 1, k["hot_keys"], prime=True)
        n_orders = k["orders"]
        for i in range(n_orders):
            ts = t0 + int(k["span_s"] * i / n_orders)
            # round 0 carries no payment rows: the routing config it adds
            # may reach the DIM query only after round 0's DIM batch
            details, rest, inc, pays = self.order_rows(ts, pay=not prime)
            # an order from the round's last 5 min may straddle into the
            # next round: the trade joins' 900 s watermark keeps its rows
            # on time and its details wait in join state
            db += details
            if ts >= t0 + k["span_s"] - 300 and r + 1 < ROUNDS \
                    and rnd.random() < k["straddle"]:
                self.carry += rest
                self.pending.append((inc, pays))
            else:
                db += rest
                self.exp.add_order(inc, pays)
        db += self.misc_rows(t0 + 5, n_orders)
        if not prime:
            db += self.user_rows(t0 + 7, k["users"])
        log = self.log_rows(t0 * 1000, k["span_s"] * 1000,
                            k["pages"], k["starts"], k["keywords"])
        for rows in (db, log):
            n_dirty = int(len(rows) * k["dirty_share"])
            for _ in range(n_dirty):
                rows.insert(rnd.randrange(len(rows) + 1), _dirty(rnd))
            _disorder(rnd, rows, k["disorder"])
        os.makedirs(out_dir, exist_ok=True)
        _write_values(os.path.join(out_dir, "topic_db.parquet"), db)
        _write_values(os.path.join(out_dir, "topic_log.parquet"), log)
        envelopes = len(db) + len(log)
        if prime:
            _write_values(os.path.join(out_dir, "table_process_config.parquet"), [
                json.dumps({"before": None,
                            "after": {"source_table": "payment_info",
                                      "sink_table": "dim_payment_info",
                                      "sink_columns": "id,payment_type",
                                      "sink_pk": "id", "sink_extend": None},
                            "op": "c", "ts_ms": t0 * 1000},
                           separators=(",", ":"))])
            envelopes += 1
            paras = self.para_rows(SEED_PARAS)
            pq.write_table(pa.table({
                "enc": pa.array([p[0] for p in paras], pa.int64()),
                "para": pa.array([p[1] for p in paras], pa.string())}),
                os.path.join(out_dir, "doc_paras.parquet"))
            _write_vecs(os.path.join(out_dir, "embeddings.parquet"), self.vec_rows())
        self.exp.close_windows()
        self.exp.snapshot()
        return envelopes


def _word(rnd):
    return "".join(rnd.choice(SYLL) for _ in range(rnd.randint(1, 3)))


def _sentence(rnd, n):
    """`n` distinct words with two stopwords, so no 3-gram repeats."""
    seen, words = {"the", "and"}, []
    while len(words) < n - 2:
        w = _word(rnd)
        if w not in seen:
            seen.add(w)
            words.append(w)
    words.insert(3, "the")
    words.insert(len(words) // 2, "and")
    return words


def _vec(rnd, g, dim):
    """A member of cluster `g`: the g-th signed axis plus small noise, so
    members of one cluster have cosine ~0.99 and of two clusters ~0."""
    v = [rnd.gauss(0.0, 0.02) for _ in range(dim)]
    v[g // 2 % dim] += 1.0 if g % 2 == 0 else -1.0
    return v


def _write_vecs(path, vecs):
    pq.write_table(pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in vecs], pa.int32())}), path)


def gen_trickle(seed, out):
    g = DagGen(seed, TRICKLE)
    sizes = [g.round(r, os.path.join(out, "rounds", f"r{r:04d}"))
             for r in range(ROUNDS)]
    meta = {"workload": "dag_trickle", "seed": seed, "knobs": TRICKLE,
            "envelopes": sizes, "expected": g.exp.snapshots}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def gen_curation(seed, out):
    rnd = random.Random(seed)
    c = CURATION
    os.makedirs(out, exist_ok=True)
    docs = []
    clusters = pairs = members = 0
    for i in range(c["doc_clusters"]):
        base = _sentence(rnd, c["doc_words"])
        # sizes cycle through 2..cluster_max, so every seed has as many docs
        m = 2 + i % (c["cluster_max"] - 1)
        tails = set()
        while len(tails) < m:
            tails.add(_word(rnd))
        for t in sorted(tails):
            docs.append(" ".join(base[:-1] + [t]))
        clusters += 1
        pairs += m * (m - 1) // 2
        members += m
    for _ in range(c["unique_docs"]):
        docs.append(" ".join(_sentence(rnd, c["doc_words"])))
    for _ in range(c["short_docs"]):
        docs.append(" ".join(_sentence(rnd, 10)))
    _disorder(rnd, docs, 1.0)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs, pa.string())}), os.path.join(out, "docs.parquet"))
    # vectors: ids 0..k-1 are one member per cluster, so the lowest-id
    # seeds of kmeansCentroids are one per cluster and every member's
    # nearest seed is its own cluster's
    k, size, dim = c["vec_clusters"], c["vec_cluster_size"], c["vec_dim"]
    rest = [i % k for i in range(k * (size - 1))]
    rnd.shuffle(rest)
    labels = list(range(k)) + rest
    vecs = [(i, _vec(rnd, g, dim), g) for i, g in enumerate(labels)]
    _write_vecs(os.path.join(out, "vecs.parquet"), vecs)
    words = Counter()
    for d in docs:
        words.update(d.split())
    expected = {
        "docs": len(docs),
        "lsh_components": clusters,
        "lsh_component_members": members,
        "jaccard_pairs": pairs,
        "gopher_kept": len(docs) - c["short_docs"],
        "semdedup_kept": k,
        "ivf_rows": k * IVF_K,
        "kn_docs": len(docs),
        "hll_exact": len(words),
        "vec_clusters": k,
    }
    meta = {"workload": "curation_batch", "seed": seed, "knobs": c,
            "expected": expected}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def generate(workload, seed, out):
    if workload == "curation_batch":
        return gen_curation(seed, out)
    return gen_trickle(seed, out)
