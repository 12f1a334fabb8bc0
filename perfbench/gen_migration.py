#!/usr/bin/env python3
"""Seeded input generator for the migration workloads.

Writes the Oracle-shaped source tables (FIXTURES.md family A, one parquet
file per table, named as `graft.Main.registry` reads them) and the four seed
CSVs (family B, real headers) under <out>, plus <out>/manifest.json: the
expected row count of every target table, the expected dangling foreign keys,
and the SHA-256 of every attachment payload. The manifest is computed from the
generator's own parameters, never by running the pipelines.

Usage: python3 gen_migration.py --seed N --out DIR

Deterministic: the same seed gives byte-identical tables and an identical
manifest. Single process, numpy/pyarrow only.
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Fact-table sizes (the row counts below) and the attachments are assumptions,
# not measurements: the reference commits no per-table row counts, so they are
# a guess at one regional registry with few, small attachments. Only the
# seed-CSV counts come from the reference.
N_ATTACHMENTS = 80
ATTACH_BYTES = (4 << 10, 16 << 10)
# Reference seed-CSV row counts (FIXTURES.md §B).
N_REGIONS, N_PROVINCES, N_MUNICIPALITIES, N_PERMISSIONS = 20, 110, 8018, 6
DIRTY = 0.05  # share of id / FK / text values given edge whitespace or case noise

T_UTC = pa.timestamp("us", tz="UTC")


class Gen:
    def __init__(self, seed, out):
        self.rng = np.random.default_rng([seed, 7919])
        self.out = out
        self.tag = f"{seed & 0xffffffff:08x}"
        self.expect = {}
        self.dangling = {}
        self.defect_dangling = {}
        self.nulls = {}
        self.sizes = {}

    # ---------- primitive columns ----------
    def ids(self, prefix, n):
        """Canonical (already normalized: lowercase, no whitespace) ids."""
        salt = self.rng.integers(0, 1 << 30, n)
        base = pc.binary_join_element_wise(
            f"{prefix}-", pa.array(np.arange(n)).cast(pa.string()),
            "-", pa.array(salt).cast(pa.string()), "")
        return pc.binary_join_element_wise(base, self.tag, "-")

    def dirty(self, canon, p=DIRTY):
        """Source spelling of canonical ids: a share gets upper case and edge
        whitespace (including a tab), which Text.handleId removes."""
        n = len(canon)
        if n == 0:
            return canon
        mask = pa.array(self.rng.random(n) < p)
        noisy = pc.binary_join_element_wise(" ", pc.utf8_upper(canon), "\t ", "")
        return pc.if_else(mask, noisy, canon)

    def ws(self, vals, p=DIRTY):
        """Edge spaces only (what Spark `trim` removes)."""
        n = len(vals)
        mask = pa.array(self.rng.random(n) < p)
        return pc.if_else(mask, pc.binary_join_element_wise("  ", vals, " ", ""), vals)

    def text(self, words, n, k=2, dirty=True):
        """Space-joined random words; dirty variants carry edge whitespace,
        inner whitespace runs and NUL bytes (all removed by Text.handleText)."""
        vocab = pa.array(words)
        parts = [vocab.take(pa.array(self.rng.integers(0, len(words), n))) for _ in range(k)]
        out = pc.binary_join_element_wise(*parts, " ")
        if dirty:
            m = self.rng.random(n)
            out = pc.if_else(pa.array(m < DIRTY),
                             pc.binary_join_element_wise(" ", out, "\x00 \n", ""), out)
            out = pc.if_else(pa.array((m >= DIRTY) & (m < 2 * DIRTY)),
                             pc.replace_substring(out, " ", "  \t "), out)
        return out

    def pick(self, canon, n, null_p=0.0):
        idx = pa.array(self.rng.integers(0, len(canon), n))
        v = canon.take(idx)
        if null_p:
            v = pc.if_else(pa.array(self.rng.random(n) < null_p), pa.nulls(n, pa.string()), v)
        return v

    def choice(self, values, n):
        return pa.array(values).take(pa.array(self.rng.integers(0, len(values), n)))

    def ints(self, lo, hi, n):
        return pa.array(self.rng.integers(lo, hi, n).astype(np.int32))

    def ts(self, n):
        """Naive Europe/Rome wall-clock audit timestamps; about one in fifty
        falls in the DST-ambiguous hour of 2023-10-29 (02:00-03:00)."""
        base = np.datetime64("2015-01-01T00:00:00", "us")
        off = self.rng.integers(0, 9 * 365 * 86400, n).astype("timedelta64[s]")
        t = base + off.astype("timedelta64[us]")
        amb = self.rng.random(n) < 0.02
        amb_t = np.datetime64("2023-10-29T02:00:00", "us") + \
            self.rng.integers(0, 3600, n).astype("timedelta64[s]").astype("timedelta64[us]")
        return pa.array(np.where(amb, amb_t, t), type=T_UTC)

    def audit(self, n, disabled=True):
        cols = {"CREATION": self.ts(n), "LAST_MOD": self.ts(n)}
        if disabled:
            cols["DISABLED"] = self.choice(["N", "N", "N", "S", " s", "n "], n)
        return cols

    # ---------- output ----------
    def put(self, name, cols):
        t = pa.table(cols)
        path = os.path.join(self.out, f"{name}.parquet")
        pq.write_table(t, path)
        self.sizes[name] = t.num_rows

    def target(self, name, rows):
        self.expect[name] = int(rows)

    def dangle(self, table, column, n):
        self.dangling[f"{table}.{column}"] = int(n)

    def defect_dangle(self, table, column, n):
        """References that dangle only because of a known program fault; the
        check accepts either none of them (fault mended) or exactly these."""
        self.defect_dangling[f"{table}.{column}"] = int(n)

    def null_fk(self, table, column, n):
        """Planted lookups that match nothing: the left join leaves them null."""
        self.nulls[f"{table}.{column}"] = int(n)


def raw_spelled(ids):
    """How many non-null ids differ from their normalized spelling."""
    bad = pc.and_(pc.is_valid(ids),
                  pc.invert(pc.equal(ids, pc.utf8_lower(pc.utf8_trim_whitespace(ids)))))
    return int(pc.sum(bad.cast(pa.int64())).as_py() or 0)


WORDS = ["Alfa", "Beta", "Gamma", "Delta", "Nord", "Sud", "Est", "Ovest", "Centro",
         "Santa", "Maria", "San", "Marco", "Giovanni", "Casa", "Cura", "Villa",
         "Ospedale", "Presidio", "Clinica", "Servizi", "Salute", "Medica", "Venezia",
         "Padova", "Verona", "Treviso", "Vicenza", "Rovigo", "Belluno", "Riva", "Ponte"]


def generate(seed, out):
    g = Gen(seed, out)
    os.makedirs(os.path.join(out, "seed"), exist_ok=True)
    rng = g.rng

    # ---------- B: seed CSVs ----------
    prov_region = rng.integers(1, N_REGIONS + 1, N_PROVINCES)
    mun_prov = rng.integers(1, N_PROVINCES + 1, N_MUNICIPALITIES)
    # Six-digit ISTAT codes, unique, most with a leading zero.
    istat = rng.choice(np.arange(1000, 112000), N_MUNICIPALITIES, replace=False)
    istat_codes = [f"{v:06d}" for v in istat]
    region_istat = [f"{i:02d}" for i in range(1, N_REGIONS + 1)]
    province_istat = [f"{i:03d}" for i in range(1, N_PROVINCES + 1)]
    with open(os.path.join(out, "seed", "regions.csv"), "w") as fh:
        fh.write("id,name,istat_code,img_url\n")
        for i in range(1, N_REGIONS + 1):
            fh.write(f"{i},Regione {i},{region_istat[i - 1]},https://img.example/r{i}.png\n")
    with open(os.path.join(out, "seed", "provinces.csv"), "w") as fh:
        fh.write("id,name,acronym,istat_code,region_id\n")
        for i in range(1, N_PROVINCES + 1):
            fh.write(f"{i},Provincia {i},P{i:02d},{province_istat[i - 1]},{prov_region[i - 1]}\n")
    with open(os.path.join(out, "seed", "municipalities.csv"), "w") as fh:
        fh.write("id,name,istat_code,province_id\n")
        for i in range(1, N_MUNICIPALITIES + 1):
            fh.write(f"{i},Comune {i},{istat_codes[i - 1]},{mun_prov[i - 1]}\n")
    with open(os.path.join(out, "seed", "permissions.csv"), "w") as fh:
        fh.write("id,code,description\n")
        for i, c in enumerate(["READ", "WRITE", "APPROVE", "ADMIN", "EXPORT", "AUDIT"], 1):
            fh.write(f"{i},{c},Permesso {c.lower()}\n")
    for t, n in [("regions", N_REGIONS), ("provinces", N_PROVINCES),
                 ("municipalities", N_MUNICIPALITIES), ("permissions", N_PERMISSIONS)]:
        g.target(t, n)
    istat_arr = pa.array(istat_codes)

    def istat_refs(n, orphan_p):
        """ISTAT join keys with edge whitespace; a share matches no municipality."""
        v = g.ws(g.pick(istat_arr, n), 0.1)
        orphan = rng.random(n) < orphan_p
        return pc.if_else(pa.array(orphan), pa.array(["999999"] * n), v), int(orphan.sum())

    # ---------- small dimensions ----------
    dim_names = {}  # source name column of each simple dimension

    def simple_dim(name, prefix, n, name_col="NOME", audit=True, disabled=True, trim_only=False):
        """trim_only: the pipeline only `trim`s the name, so only edge spaces
        are planted in it."""
        cid = g.ids(prefix, n)
        names = g.ws(g.text(WORDS, n, dirty=False)) if trim_only else g.text(WORDS, n)
        cols = {"CLIENTID": g.dirty(cid), name_col: names}
        if audit:
            cols.update(g.audit(n, disabled))
        g.put(name, cols)
        dim_names[name] = names
        return cid

    toponimo = simple_dim("toponimo_templ", "top", 40)
    g.target("toponyms", 40)
    n_ulss = 9
    g.put("ulss_territoriale", {
        "DESCRIZIONE": g.ws(pa.array([f"ULSS {i} {WORDS[i]}" for i in range(n_ulss)])),
        "CODICE": pa.array([str(501 + i) for i in range(n_ulss)])})
    g.target("ulss", n_ulss)
    n_az = 12
    g.put("azienda_sanitaria", {
        "CLIENTID": g.dirty(g.ids("az", n_az)),
        # three healthcare companies carry a code no ULSS has
        "CODICE": g.ws(pa.array([str(501 + i) for i in range(n_az)])),
        "DESCRIZIONE": g.text(WORDS, n_az)})
    g.target("healthcare_companies", n_az)
    g.null_fk("healthcare_companies", "ulss_id", n_az - n_ulss)
    n_dist = 30
    dist = g.ids("dis", n_dist)
    g.put("distretto_templ", {
        "CLIENTID": g.dirty(dist),
        "TITOLARE": pa.array([f" Az-{WORDS[i % len(WORDS)]}-{i}- " for i in range(n_dist)]),
        "DISTRETTO": pa.array([f"D{i}" for i in range(n_dist)]), **g.audit(n_dist)})
    g.target("districts", n_dist)
    n_tt = 6
    g.put("tipo_titolare_templ", {
        "CLIENTID": g.dirty(g.ids("tt", n_tt)), "DESCR": g.ws(g.text(WORDS, n_tt, dirty=False)),
        "SHOW_DICHIARAZIONE_DIR_SAN": g.choice(["S", "N"], n_tt),
        "ORGANIGRAMMA_ATTIVO": g.choice(["S", "N", None], n_tt), **g.audit(n_tt)})
    g.target("company_types", n_tt)
    tipo_rich = simple_dim("tipologia_richiedente", "tr", 5, audit=False)
    natura_names = ["AzSan", "Pub", "Pri", "Ente"]  # "Ente" is unmapped
    natura = g.ids("nat", len(natura_names))
    g.put("natura_titolare_templ", {"CLIENTID": g.dirty(natura), "NOME": pa.array(natura_names)})

    # ---------- companies / structures ----------
    n_tit = 600
    titolare = g.ids("tit", n_tit)
    com_istat, com_orphans = istat_refs(n_tit, 0.01)
    g.put("titolare_model", {
        "CLIENTID": g.dirty(titolare), "DENOMINAZIONE": g.text(WORDS, n_tit, 3),
        "RAG_SOC": g.text(WORDS, n_tit, 2),
        "FORMA_SOCIETARIA": g.choice(["s.r.l.", "S.P.A ", "srl", "spa", " s.n.c.", "s.a.s.",
                                      "associazione", "Fondazione", "coop", None], n_tit),
        "CFISC": g.ws(g.ids("cf", n_tit)), "PIVA": g.ws(g.ids("iva", n_tit)),
        "ID_TIPO_RICH_FK": g.dirty(g.pick(tipo_rich, n_tit)),
        "ID_NATURA_FK": g.dirty(g.pick(natura, n_tit)),
        "COD_COMUNE_ESTESO": com_istat, **g.audit(n_tit)})
    g.target("companies", n_tit)
    g.null_fk("companies", "municipality_id", com_orphans)

    n_str = 900
    struttura = g.ids("str", n_str)
    g.put("struttura_model", {
        "CLIENTID": g.dirty(struttura), "DENOMINAZIONE": g.ws(g.text(WORDS, n_str, 3, False)),
        "CODICE_PF": g.ws(g.ids("pf", n_str)), "CODICE_PF_SECONDARIO": g.ws(g.ids("pfs", n_str)),
        "ID_DISTRETTO_FK": g.dirty(g.pick(dist, n_str)),
        "ID_TITOLARE_FK": g.dirty(g.pick(titolare, n_str)), **g.audit(n_str),
        "ID_FASCICOLO_DOCWAY": g.pick(g.ids("dw", 50), n_str, null_p=0.5),
        "ID_COMPRENSORIO_FK": g.pick(g.ids("cmp", 20), n_str, null_p=0.5)})
    g.target("physical_structures", n_str)

    tpf = simple_dim("tipo_punto_fisico_templ", "tpf", 4, audit=False)
    n_sede = 1400
    sede = g.ids("sede", n_sede)
    sede_istat, sede_orphans = istat_refs(n_sede, 0.01)
    lat = rng.uniform(44.8, 46.6, n_sede)
    lat_s = pa.array([f"{v:.4f}" for v in lat])
    g.put("sede_oper_model", {
        "CLIENTID": g.dirty(sede), "ID_STRUTTURA_FK": g.dirty(g.pick(struttura, n_sede)),
        "DENOMINAZIONE": g.text(WORDS, n_sede, 2), "VIA_PIAZZA": g.text(WORDS, n_sede, 2),
        "CIVICO": g.ws(pa.array(rng.integers(1, 200, n_sede)).cast(pa.string())),
        "CAP": pa.array(rng.integers(30010, 37142, n_sede)).cast(pa.string()),
        "FLAG_INDIRIZZO_PRINCIPALE": g.choice(["S", "N"], n_sede), "ISTAT": sede_istat,
        "ID_TIPO_PUNTO_FISICO_FK": g.dirty(g.pick(tpf, n_sede)),
        "LATITUDINE": lat_s,
        "LONGITUDINE": pa.array([f"{v:.4f}" for v in rng.uniform(10.6, 13.1, n_sede)]),
        "ID_TOPONIMO_FK": g.dirty(g.pick(toponimo, n_sede)), **g.audit(n_sede)})
    g.target("operational_offices", n_sede)
    g.null_fk("operational_offices", "municipality_id", sede_orphans)

    n_edi = 1100
    edificio = g.ids("edi", n_edi)
    g.put("edificio_str_templ", {
        "CLIENTID": g.dirty(edificio), "NOME": g.ws(g.text(WORDS, n_edi, 2, False)),
        "CODICE": g.ws(g.ids("ec", n_edi)), "ID_STRUTTURA_FK": g.dirty(g.pick(struttura, n_edi)),
        "CF_DI_PROPRIETA": g.ws(g.ids("cfp", n_edi)), "COGNOME_DI_PROPRIETA": g.choice(WORDS, n_edi),
        "NOME_DI_PROPRIETA": g.choice(WORDS, n_edi), "RAGIONE_SOCIALE_DI_PROPRIETA": g.choice(WORDS, n_edi),
        "PIVA_DI_PROPRIETA": g.ws(g.ids("ivp", n_edi)), "FLAG_DI_PROPRIETA": g.ints(0, 2, n_edi),
        **g.audit(n_edi), "ID_FASCICOLO_DOCWAY": g.pick(g.ids("dwe", 30), n_edi, null_p=0.3)})
    g.target("buildings", n_edi)

    # ---------- specialties ----------
    n_macro = 5
    macro = g.ids("mac", n_macro)
    g.put("macroarea_programmazione", {
        "CLIENTID": g.dirty(macro),
        "NOME": pa.array(["Acuti", " Riabilitazione", "intermedie ", "TERRITORIALE", "Altro"])})
    n_ragg = 12
    ragg = g.ids("rg", n_ragg)
    g.put("ragg_discpl", {
        "CLIENTID": g.dirty(ragg), "DENOMINAZIONE": g.ws(g.text(WORDS, n_ragg, 2, False)),
        "ORDINE": g.ints(1, 20, n_ragg), "ID_MACROAREA_FK": g.dirty(g.pick(macro, n_ragg)),
        **g.audit(n_ragg)})
    g.target("grouping_specialties", n_ragg)
    n_disc, n_branca, n_artic = 90, 60, 20
    disc = g.ids("disc", n_disc)
    g.put("disciplina_templ", {
        "CLIENTID": g.dirty(disc), "NOME": g.text(WORDS, n_disc, 2), "ORDINE": g.ints(1, 99, n_disc),
        "DESCR": g.text(WORDS, n_disc, 3),
        "TIPO": g.choice(["Osp", "ter", "TERR", "nonosp", "alt", "boh"], n_disc),
        "CODICE": g.ws(g.ids("dc", n_disc)), "PROGRAMMAZIONE": g.ints(0, 2, n_disc),
        "POA": g.ints(0, 2, n_disc), "ID_RAGG_DISCIPL_TEMPL_FK": g.dirty(g.pick(ragg, n_disc)),
        "ID_DISCIPLINA": pa.array(np.arange(n_disc)).cast(pa.string()), **g.audit(n_disc)})
    branca = g.ids("bra", n_branca)
    is_altro = ["N"] * n_branca
    is_altro[int(rng.integers(0, n_branca))] = " s"  # exactly one IS_ALTRO branch
    g.put("branca_templ", {
        "CLIENTID": g.dirty(branca), "NOME": g.text(WORDS, n_branca, 2),
        "DESCR": g.pick(g.text(WORDS, 10, 2, False), n_branca, null_p=0.2),
        "CODICE": g.ws(g.ids("bc", n_branca)), "PROGRAMMAZIONE": g.ints(0, 2, n_branca),
        "ID_BRANCA": pa.array(np.arange(n_branca)).cast(pa.string()),
        "IS_ALTRO": pa.array(is_altro), **g.audit(n_branca)})
    artic = g.ids("art", n_artic)
    g.put("artic_branca_altro_templ", {
        "CLIENTID": g.dirty(artic), "DESCR": g.text(WORDS, n_artic, 2),
        "SETTING_BRANCA": g.text(WORDS, n_artic, 1), **g.audit(n_artic)})
    g.target("specialties", n_disc + n_branca + n_artic)

    # ---------- operational units, users ----------
    n_uo = 500
    uo = g.ids("uo", n_uo)
    uo_code = pc.binary_join_element_wise("UO-", pa.array(np.arange(n_uo)).cast(pa.string()), "")
    g.put("uo_model", {
        "CLIENTID": g.dirty(uo), "ID_UO": g.ws(uo_code), "COD_UNIVOCO_UO": g.ws(g.ids("cu", n_uo)),
        "DENOMINAZIONE": g.ws(g.text(WORDS, n_uo, 2, False)), "DESCR": g.ws(g.text(WORDS, n_uo, 3, False)),
        "ID_TITOLARE_FK": g.dirty(g.pick(titolare, n_uo)), **g.audit(n_uo)})
    g.target("operational_units", n_uo)

    n_user = 1500
    anag = g.ids("an", n_user)
    user = g.ids("ut", n_user)
    birth, _ = istat_refs(n_user, 0.02)
    g.put("anagrafica_utente_model", {
        "CLIENTID": g.dirty(anag), "NOME": g.text(WORDS, n_user, 1), "COGNOME": g.text(WORDS, n_user, 1),
        "CFISC": g.text(WORDS, n_user, 1), "EMAIL": g.pick(g.ids("mail", 50), n_user, null_p=0.1),
        "DATA_NASCITA": g.choice(["1970-01-02", "1985-06-30", "n/d", "1999-12-31 08:00:00"], n_user),
        "VIA_PIAZZA": g.text(WORDS, n_user, 2), "CIVICO": g.text(["1", "2", "3A", "10"], n_user, 1),
        "TELEFONO": g.text(["041", "049", "045"], n_user, 1),
        "CELLULARE": g.text(["333", "347", "320"], n_user, 1),
        "CARTA_IDENT_NUM": g.text(["AX1", "BY2", "CZ3"], n_user, 1),
        "CARTA_IDENT_SCAD": g.choice(["2030-01-01", "2028-05-05", ""], n_user),
        "PROFESSIONE": g.text(["Medico", "Infermiere", "Tecnico"], n_user, 1),
        "COD_LUOGO_NASCITA": birth, **g.audit(n_user, disabled=False)})
    prov_uo = g.choice(["MANUALE", "ORGANIGRAMMA_TREE", " MANUALE "], n_user)
    g.put("utente_model", {
        "CLIENTID": g.dirty(user),
        # one account per person, in shuffled order
        "ID_ANAGR_FK": g.dirty(anag.take(pa.array(rng.permutation(n_user)))),
        "USERNAME_CAS": g.text(WORDS, n_user, 1),
        "RUOLO": g.choice(["region", "amministratore", "Operatore", "auditor", None], n_user),
        "PROVENIENZA_UO": prov_uo, "ID_UO": g.ws(g.pick(uo_code, n_user)),
        "DATA_DISABILITATO": pc.if_else(pa.array(rng.random(n_user) < 0.1),
                                        g.ts(n_user), pa.nulls(n_user, T_UTC))})
    g.target("users", n_user)
    n_oper = 1500
    g.put("operatore_model", {
        "CLIENTID": g.dirty(g.ids("op", n_oper)), "ID_UTENTE_FK": g.dirty(g.pick(user, n_oper)),
        "ID_TITOLARE_FK": g.dirty(g.pick(titolare, n_oper)), **g.audit(n_oper)})
    g.target("user_companies", n_oper)

    # ---------- resolutions ----------
    n_td, n_ta = 8, 10
    td = g.ids("td", n_td)
    td_names = [f"Delibera tipo {i}" for i in range(n_td)]
    g.put("tipo_delibera", {"CLIENTID": g.dirty(td), "NOME": g.ws(pa.array(td_names)),
                            **g.audit(n_td)})
    ta = g.ids("ta", n_ta)
    # the first atto type reuses a delibera type name in another case: one
    # resolution_types row survives the name dedup
    ta_names = [td_names[0].upper()] + [f"Atto tipo {i}" for i in range(1, n_ta)]
    g.put("tipo_atto", {"CLIENTID": g.dirty(ta), "DESCR": g.ws(pa.array(ta_names)),
                        **g.audit(n_ta)})
    g.target("resolution_types", n_td + n_ta - 1)

    n_del = 250
    n_att = min(N_ATTACHMENTS, n_del)
    delib = g.ids("del", n_del)
    lo, hi = ATTACH_BYTES
    payload_rng = np.random.default_rng([seed, 104729])
    has_att = np.zeros(n_del, bool)
    has_att[rng.choice(n_del, n_att, replace=False)] = True
    payloads, sha = [], {}
    delib_py = delib.to_pylist()
    for i in range(n_del):
        if has_att[i]:
            b = payload_rng.integers(0, 256, int(payload_rng.integers(lo, hi)), dtype=np.uint8).tobytes()
            payloads.append(b)
            sha[delib_py[i]] = hashlib.sha256(b).hexdigest()
        else:
            payloads.append(None)
    # Duplicate names: every delibera name comes from a pool a third its size.
    pool = [f"Delibera {w} {i}.pdf" for i, w in
            enumerate(np.array(WORDS)[rng.integers(0, len(WORDS), max(1, n_del // 3))])]
    del_names = pa.array(pool).take(pa.array(rng.integers(0, len(pool), n_del)))
    g.put("delibera_templ", {
        "CLIENTID": g.dirty(delib), "NOME": g.ws(del_names),
        "ID_TIPO_FK": g.dirty(g.pick(td, n_del)),
        "ALLEGATO": pa.array(payloads, pa.binary()), **g.audit(n_del)})
    n_atto = 1200
    atto = g.ids("atto", n_atto)
    g.put("atto_model", {
        "CLIENTID": g.dirty(atto), "ANNO": g.ws(pa.array(rng.integers(2000, 2025, n_atto)).cast(pa.string())),
        "NUMERO": pa.array(rng.integers(1, 999, n_atto)).cast(pa.string()),
        "ID_TIPO_FK": g.dirty(g.pick(ta, n_atto)), **g.audit(n_atto)})
    g.target("resolutions", n_del + n_atto)
    resolution_ids = pa.concat_arrays([delib, atto])

    # ---------- udo types ----------
    n_cls = 6
    cls = simple_dim("classificazione_udo_templ", "cls", n_cls, trim_only=True)
    g.target("udo_type_classifications", n_cls)
    n_tipo = 70
    tipo = g.ids("tipo", n_tipo)
    g.put("tipo_udo_22_templ", {
        "CLIENTID": g.dirty(tipo), "DESCR": g.text(WORDS, n_tipo, 2),
        "CODICE_UDO": g.ws(g.ids("cu22", n_tipo)), "NOME_CODICE_UDO": g.ws(g.ids("ncu", n_tipo)),
        "SETTING": g.ws(g.choice(["AMB", "RES", "SEMIRES"], n_tipo)),
        "TARGET": g.ws(g.choice(["ADULTI", "MINORI", "ANZIANI"], n_tipo)),
        "ID_CLASSIFICAZIONE_UDO_FK": g.dirty(g.pick(cls, n_tipo)),
        "OSPEDALIERO": g.choice(["s", "y", "Y", "N", None], n_tipo),
        "SALUTE_MENTALE": g.choice(["s", "N", None], n_tipo),
        "POSTI_LETTO": g.choice(["S", "y", "N"], n_tipo), **g.audit(n_tipo)})
    n_amb = 25
    amb = g.ids("amb", n_amb)
    amb_names = [f"Ambito {i}" for i in range(n_amb)]
    amb_names[0], amb_names[1] = None, ""  # filtered by the udo_types scope filter
    flag = lambda: g.choice(["S", "N", "y", None], n_amb)  # noqa: E731
    g.put("ambito_templ", {
        "CLIENTID": g.dirty(amb), "NOME": pa.array(amb_names, pa.string()),
        "DESCR": g.text(WORDS, n_amb, 2),
        **{c: flag() for c in ["AGGIUNGI_DISCIPLINE", "AGGIUNGI_DISCIPLINE_AZ_SAN",
                               "AGGIUNGI_DISCIPLINE_PUB_PRIV", "AGGIUNGI_BRANCHE",
                               "AGGIUNGI_BRANCHE_AZ_SAN", "AGGIUNGI_BRANCHE_PUB_PRIV",
                               "AGGIUNGI_PRESTAZIONI", "AGGIUNGI_AMBITO"]}})
    # One scope per UDO type; types bound to the two nameless scopes drop out.
    tipo_amb = rng.integers(0, n_amb, n_tipo)
    tipo_kept = tipo_amb >= 2
    g.put("bind_tipo_22_ambito", {"ID_TIPO_22_FK": g.dirty(tipo), "ID_AMBITO_FK": g.dirty(amb.take(pa.array(tipo_amb)))})
    n_bn = 2 * n_tipo
    g.put("bind_tipo_22_natura", {"ID_TIPO_UDO_22_FK": g.dirty(g.pick(tipo, n_bn)),
                                  "ID_NATURA_FK": g.dirty(g.pick(natura, n_bn))})
    n_fl = 8
    fl = g.ids("fl", n_fl)
    g.put("flusso_templ", {"CLIENTID": g.dirty(fl),
                           "NOME": pa.array([f"FLS {20 + i}" if i % 2 else f" fls.{20 + i} " for i in range(n_fl)])})
    g.put("bind_tipo_22_flusso", {"ID_TIPO_UDO_22_FK": g.dirty(g.pick(tipo, n_bn)),
                                  "ID_FLUSSO_FK": g.dirty(g.pick(fl, n_bn))})
    g.target("udo_types", int(tipo_kept.sum()))

    # ---------- production factors ----------
    n_tf = 15
    tf = g.ids("tf", n_tf)
    g.put("tipo_fattore_prod_templ", {
        "CLIENTID": g.dirty(tf), "NOME": g.ws(g.text(WORDS, n_tf, 2, False)),
        "DESCR": g.text(WORDS, n_tf, 2), "TIPOLOGIA_FATT_PROD": g.ws(g.choice(["STR", "ORG", "TEC"], n_tf)),
        **g.audit(n_tf)})
    g.target("production_factor_types", n_tf)
    n_fp = 3000
    fp = g.ids("fp", n_fp)
    g.put("fatt_prod_udo_model", {
        "CLIENTID": g.dirty(fp), "ID_TIPO_FK": g.dirty(g.pick(tf, n_fp)),
        "VALORE": g.choice(["12", " 4", "", "?", None, "7 ", "30"], n_fp),
        "VALORE2": g.choice(["Stanza 1", "NUL", "Sala\x00 A", " Box 3 "], n_fp),
        "VALORE3": g.choice(["?", "2", "", "0", "15"], n_fp),
        "DESCR": g.choice(["RC", "NUL", "\x00R2", " P1 "], n_fp), **g.audit(n_fp)})
    g.target("production_factors", n_fp)
    n_b22 = 120
    b22_tipo = rng.integers(0, n_tipo, n_b22)
    g.put("bind_tipo_22_tipo_fatt", {"ID_TIPO_UDO_22_FK": g.dirty(tipo.take(pa.array(b22_tipo))),
                                     "ID_TIPO_FATT_FK": g.dirty(g.pick(tf, n_b22))})
    g.target("udo_type_production_factor_types", n_b22)
    g.dangle("udo_type_production_factor_types", "udo_type_id", int((~tipo_kept[b22_tipo]).sum()))

    # ---------- UDOs ----------
    n_udo = 3000
    udo = g.ids("udo", n_udo)
    udo_tipo = rng.integers(0, n_tipo, n_udo)
    prov = g.choice(["MANUALE", "ORGANIGRAMMA_TREE"], n_udo)
    cols = {
        "CLIENTID": g.dirty(udo), "DESCR": g.text(WORDS, n_udo, 3, dirty=False),
        "STATO": g.choice(["Attiva", " sospesa", None, "NUOVA"], n_udo),
        "ID_UNIVOCO": g.ws(g.ids("uu", n_udo)), "ID_TIPO_UDO_22_FK": g.dirty(tipo.take(pa.array(udo_tipo))),
        "ID_SEDE_FK": g.dirty(g.pick(sede, n_udo)), "ID_EDIFICIO_STR_FK": g.dirty(g.pick(edificio, n_udo)),
        "PIANO": g.ws(g.choice(["0", "1", "2", "-1"], n_udo)), "BLOCCO": g.choice(["-", "A", " B ", "-"], n_udo),
        "PROGRESSIVO": g.choice(["-", "P1", "P2"], n_udo),
        "CODICE_FLUSSO_MINISTERIALE": g.ws(g.choice(["F1", "F2", "F3"], n_udo)),
        "COD_FAR_FAD": g.ws(g.choice(["FF", "FA"], n_udo)), "SIO": g.choice(["Y", "y", "N", None], n_udo),
        "STAREP": g.ws(g.choice(["SR1", "SR2"], n_udo)), "CDC": g.ws(g.choice(["CC1", "CC2"], n_udo)),
        "PAROLE_CHIAVE": g.ws(g.choice(["k1", "k2 k3"], n_udo)),
        "ANNOTATIONS": g.choice(["nota\r\n", " annot ", "riga1\nriga2"], n_udo),
        "WEEK": g.choice(["Y", "N"], n_udo), "AUAC": g.ints(0, 2, n_udo),
        "FLAG_MODULO": g.choice(["y", "N"], n_udo), "PROVENIENZA_UO": prov,
        "ID_UO": g.ws(g.pick(uo_code, n_udo)),
        "EROGAZIONE_DIRETTA": g.choice(["Y", "N", "y"], n_udo),
        "EROGAZIONE_INDIRETTA": g.choice(["Y", "N"], n_udo), **g.audit(n_udo)}
    g.put("udo_model", cols)
    g.target("udos", n_udo)
    g.dangle("udos", "udo_type_id", int((~tipo_kept[udo_tipo]).sum()))

    n_bub = 2500
    g.put("bind_udo_branca", {"AUTORIZZATA": g.choice(["S", "N", "y"], n_bub),
                              "ACCREDITATA": g.choice(["S", "N", None], n_bub),
                              "ID_BRANCA_FK": g.dirty(g.pick(branca, n_bub)),
                              "ID_UDO_FK": g.dirty(g.pick(udo, n_bub))})
    n_buba = 300
    g.put("bind_udo_branca_altro", {"ID_ARTIC_BRANCA_ALTRO_FK": g.dirty(g.pick(artic, n_buba)),
                                    "ID_UDO_FK": g.dirty(g.pick(udo, n_buba))})
    n_bud = 2500
    n_bud_null = 40  # null-FK discipline binds, dropped by udo_specialties
    bud_fk = pc.if_else(pa.array(np.arange(n_bud) < n_bud_null), pa.nulls(n_bud, pa.string()),
                        g.dirty(g.pick(disc, n_bud)))
    g.put("bind_udo_disciplina", {
        "ID_DISCIPLINA_FK": bud_fk, "ID_UDO_FK": g.dirty(g.pick(udo, n_bud)),
        "POSTI_LETTO": g.ints(0, 40, n_bud), "POSTI_LETTO_EXTRA": g.ints(0, 5, n_bud),
        "POSTI_LETTO_OBI": g.ints(0, 3, n_bud), "POSTI_LETTO_ACC": g.ints(0, 40, n_bud),
        "HSP12": g.ws(g.choice(["H12", "H13", None], n_bud)), "ID_UO": g.ws(g.pick(uo_code, n_bud)),
        "PROVENIENZA_UO": g.choice(["MANUALE", None], n_bud)})
    g.target("udo_specialties", n_bub + n_buba + n_bud - n_bud_null)

    n_bfp = 3000
    g.put("bind_udo_fatt_prod", {"ID_FATTORE_FK": g.dirty(g.pick(fp, n_bfp)),
                                 "ID_UDO_FK": g.dirty(g.pick(udo, n_bfp))})
    g.target("udo_production_factors", n_bfp)
    n_bau = 2000
    g.put("bind_atto_udo", {"ID_UDO_FK": g.dirty(g.pick(udo, n_bau)),
                            "ID_ATTO_FK": g.dirty(g.pick(resolution_ids, n_bau))})
    g.target("udo_resolutions", n_bau)

    n_stato = 4500
    n_orphan = 45  # history rows whose UDO does not exist: dropped by read-back
    stato_udo_fk = pc.if_else(pa.array(np.arange(n_stato) < n_orphan),
                              g.ids("ghost", n_stato), g.pick(udo, n_stato))
    stato = g.ids("su", n_stato)
    g.put("stato_udo", {
        "CLIENTID": g.dirty(stato), "ID_UDO_FK": g.dirty(stato_udo_fk),
        "STATO": g.choice(["AUTORIZZATA/ACCREDITATA", " autorizzata", "NUOVA", "SOSPESA "], n_stato),
        "SCADENZA": g.ts(n_stato), "DATA_INIZIO": g.ts(n_stato),
        "CREATION": g.ts(n_stato), "LAST_MOD": g.ts(n_stato)})
    g.target("udo_status_history", n_stato - n_orphan)
    n_spl = int(n_stato * 0.8)
    g.put("storico_posti_letto", {
        "ID_STATO_UDO_FK": g.dirty(stato.take(pa.array(rng.permutation(n_stato)[:n_spl]))),
        "PL": g.choice(["12", "4", "?", "abc", "", "70000"], n_spl),
        "PLEX": g.choice(["2", "0", None], n_spl), "PLOB": g.choice(["0", "1", "x"], n_spl)})

    # ---------- auac ----------
    n_treq, n_tspec = 6, 10
    treq = g.ids("treq", n_treq)
    treq_names = ["Generale", " generale", "Ignorato", "Altro", "GENERALE ", "Vario"]
    g.put("tipo_requisito", {"CLIENTID": g.dirty(treq), "NOME": pa.array(treq_names),
                             **g.audit(n_treq, disabled=False)})
    tspec = g.ids("tspec", n_tspec)
    g.put("tipo_specifico_requisito", {"CLIENTID": g.dirty(tspec), "NOME": g.ws(g.text(WORDS, n_tspec, 1, False)),
                                       **g.audit(n_tspec, disabled=False)})
    generale = np.array([n.strip().lower() == "generale" for n in treq_names])
    g.target("requirement_taxonomies", int(generale.sum()) + n_tspec + 1)
    n_lista = 100
    g.put("lista_requisiti_templ", {"CLIENTID": g.dirty(g.ids("lr", n_lista)),
                                    "NOME": g.ws(g.text(WORDS, n_lista, 2, False)),
                                    "ID_DELIBERA_TEMPL": g.dirty(g.pick(delib, n_lista)),
                                    **g.audit(n_lista)})
    g.target("requirement_lists", n_lista)
    n_risp = 4
    risp = g.ids("risp", n_risp)
    g.put("tipo_risposta", {"CLIENTID": g.dirty(risp),
                            "NOME": pa.array(["Si/No", "Testo libero", "numero", "Si/No/NA"])})
    n_req = 1500
    gen_ids = treq.filter(pa.array(generale))
    tipo_req = g.choice(["Generale", " generale", "Specifico", None], n_req)
    # Requirement taxonomy FKs are written in their source spelling. The
    # pipeline passes them through without Text.handleId (a program fault), so
    # the dirty share (and only it) cannot resolve against the normalized
    # taxonomy ids.
    gen_fk_dirty = g.dirty(g.pick(gen_ids, n_req))
    spec_fk_dirty = g.dirty(g.pick(tspec, n_req, null_p=0.1))
    g.put("requisito_templ", {
        "CLIENTID": g.dirty(g.ids("req", n_req)), "NOME": g.text(WORDS, n_req, 2),
        "TESTO": g.text(WORDS, n_req, 4), "ANNOTATIONS": g.text(WORDS, n_req, 2),
        "VALIDATO": g.choice(["S", "N", " s"], n_req), "ANNULLATO": g.choice(["S", "N"], n_req),
        "IRRINUNCIABILE": g.choice(["S", "N", None], n_req), "TIPO": tipo_req,
        "ID_TIPO_REQUISITO_FK": gen_fk_dirty, "ID_TIPO_SPECIFICO_REQUISITO_FK": spec_fk_dirty,
        "ID_TIPO_RISPOSTA_FK": g.dirty(g.pick(risp, n_req)), **g.audit(n_req)})
    g.target("requirements", n_req)
    is_gen = pc.equal(pc.utf8_lower(pc.utf8_trim_whitespace(tipo_req)), "generale").fill_null(False)
    chosen = pc.if_else(is_gen, gen_fk_dirty, spec_fk_dirty)
    g.defect_dangle("requirements", "requirement_taxonomy_id", raw_spelled(chosen))

    n_tp = 5
    tp = g.ids("tp", n_tp)
    g.put("tipo_proc_templ", {"CLIENTID": g.dirty(tp),
                              "DESCR": pa.array(["Autorizzazione", "Accreditamento", "Rinnovo acc.",
                                                 "Voltura", "Autorizzazione all'esercizio"])})
    n_dom = 2500
    dom_id = g.ids("dom", n_dom)
    # company_id is also passed through in its source spelling (same fault).
    dom_company = g.dirty(g.pick(titolare, n_dom))
    g.put("domanda_inst", {
        "CLIENTID": g.dirty(g.ids("pr", n_dom)),
        "ID_DOMANDA": pc.if_else(pa.array(rng.random(n_dom) < 0.2), pa.nulls(n_dom, pa.string()), dom_id),
        "CODICE_UNIVOCO_NRECORD": g.ids("cun", n_dom),
        "ID_TITOLARE_FK": dom_company, "ID_TIPO_PROC_FK": g.dirty(g.pick(tp, n_dom)),
        "STATO": g.choice(["IN CORSO", "CESTINATA", " CONCLUSA ", "BOZZA"], n_dom),
        "DATA_CONCLUSIONE": g.ts(n_dom), "DURATA_PROCEDIMENTO": g.ints(1, 120, n_dom),
        "MASSIMA_DURATA_PROCEDIMENTO": g.ints(60, 180, n_dom),
        "NUMERO_PROCEDIMENTO": g.ids("np", n_dom), "CREATION": g.ts(n_dom), "LAST_MOD": g.ts(n_dom),
        "DATA_INVIO_DOMANDA": g.ts(n_dom), "DATA_SCADENZA": g.ts(n_dom)})
    g.target("procedures", n_dom)
    g.defect_dangle("procedures", "company_id", raw_spelled(dom_company))

    # ---------- cronos ----------
    for tname, target, n in [("classificazione_programmazione", "cronos_taxonomies", 14),
                             ("classificazione_dm_70", "dm70_taxonomies", 9)]:
        g.put(tname, {"CLIENTID": g.dirty(g.ids(tname[:6], n)), "NOME": g.text(WORDS, n, 2)})
        g.target(target, n)

    src_bytes = sum(os.path.getsize(os.path.join(out, p)) for p in os.listdir(out)
                    if p.endswith(".parquet"))
    manifest = {
        "seed": seed, "targets": g.expect, "dangling": g.dangling,
        "defect_dangling": g.defect_dangling, "null_fk": g.nulls,
        "attachments": sha, "source_rows": g.sizes, "source_parquet_bytes": src_bytes,
        "istat_code": {t: {str(i): c for i, c in enumerate(codes, 1)} for t, codes in
                       [("regions", region_istat), ("provinces", province_istat),
                        ("municipalities", istat_codes)]},
        # Copied from the source uncleaned (a program fault): the check accepts
        # these exact source values as well as clean text.
        "passthrough_text": {"operational_offices.physical_point_type":
                             dim_names["tipo_punto_fisico_templ"].to_pylist()},
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    m = generate(a.seed, a.out)
    print(json.dumps({"targets": len(m["targets"]), "rows": sum(m["source_rows"].values()),
                      "attachments": len(m["attachments"]),
                      "source_parquet_bytes": m["source_parquet_bytes"]}))


if __name__ == "__main__":
    main()
