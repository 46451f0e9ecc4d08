"""Writes codes.csv (the rule catalog) and locations.csv.

The catalog has the shape of the demo country configuration's
AggregationVariables CSVs: the same header, the same method grammar and
the same representative rows (gen_1 gender group, cmd_1 threshold alert,
cmd_2 individual alert, lab_3 BMI calculation, pip_1 not_null, ale_1
linked-form value with multiple_link=last). Systematic families around
those rows bring each of the case, visit and register types to about 200
codes, covering every method form (match, sub_match, between, value,
not_null, calc, and/or combinations), calculation groups and priorities,
individual alerts, disregard codes and link codes.

The output is deterministic; run it from this directory to regenerate:

    python3 make_fixtures.py

locations.csv is the demo location tree (country, regions, districts,
clinics) with the clinics' tablet device ids; forms name devices d0..d39.
"""
import csv

HEADER = ["id", "name", "type", "form", "multiple_link", "db_column", "alert",
          "alert_type", "method", "condition", "category", "calculation",
          "disregard", "calculation_group", "calculation_priority"]

# Codes per data type. The per-type projection's planning and code
# generation cost grows with its code count and is paid on every plan
# (every write, every micro-batch), so these sizes keep one benchmark run
# within its time limit; see perfbench/README.md.
TARGET = {"case": 70, "visit": 40, "register": 40}
N_ICD = 16

# Vocabularies shared with the form generator (Fixtures.scala).
ICD = ["A00", "A01.0", "A03", "A05", "A06", "A08", "A09", "A15", "A20",
       "A22", "A27", "A30", "A33", "A36", "A37", "A39", "A75", "A80.9",
       "A82", "A90", "A91", "A92", "A95", "B01", "B05.9", "B15", "B16",
       "B17", "B26", "B50", "B54", "E10", "E11", "E40", "E43", "I10",
       "I21", "J06", "J10", "J18", "J45", "K29", "L03", "N39", "O14",
       "T14", "Z32", "F32"]
SYMPTOMS = ["fever", "cough", "rash", "diarrhoea", "vomiting", "headache",
            "jaundice", "paralysis", "bleeding", "dyspnoea", "convulsion",
            "oedema"]


def rows_for(typ, form, prefix, target):
    out = []

    def add(id_, method, db_column, condition="", calculation="",
            category="", alert="", alert_type="", disregard="", group="",
            priority="", multiple_link="", link_form=None):
        out.append({
            "id": id_, "name": id_, "type": typ,
            "form": link_form or form, "multiple_link": multiple_link,
            "db_column": db_column, "alert": alert, "alert_type": alert_type,
            "method": method, "condition": condition, "category": category,
            "calculation": calculation, "disregard": disregard,
            "calculation_group": group, "calculation_priority": priority})

    if form == "demo_case":
        # demographics: mutually exclusive groups
        add(f"{prefix}gen_1", "match", "pt1./gender", "female",
            category="gender", group="gender")
        add(f"{prefix}gen_2", "match", "pt1./gender", "male",
            category="gender", group="gender")
        bands = [(0, 1), (1, 5), (5, 15), (15, 25), (25, 50), (50, 65),
                 (65, 200)]
        for i, (lo, hi) in enumerate(bands, 1):
            add(f"{prefix}age_{i}", "between", "pt1./age", f"{lo},{hi}",
                calculation="pt1./age", category="age", group="age")
        for g, gender in ((1, "female"), (2, "male")):
            add(f"{prefix}age_u5_{g}", "between and match",
                "pt1./age;pt1./gender", f"0,5;{gender}",
                calculation="pt1./age", category="age_gender")
        add(f"{prefix}sta_1", "match", "pt1./status", "refugee",
            category="status", group="status")
        add(f"{prefix}sta_2", "match", "pt1./status", "national",
            category="status", group="status")
        add(f"{prefix}nat_1", "match", "nationality", "demo",
            category="nationality")
        add(f"{prefix}nat_2", "match", "nationality", "null_island",
            category="nationality")
        add(f"{prefix}mod_1", "match", "intro./module", "ncd", category="module")
        add(f"{prefix}mod_2", "match", "intro./module", "cd", category="module")
        add(f"{prefix}mod_3", "match", "intro./module", "mh", category="module")
        # one code per ICD diagnosis; cmd_1 is the threshold alert,
        # cmd_2 an individual alert
        for i, code in enumerate(ICD[:N_ICD], 1):
            kw = {}
            if i == 1:
                kw = {"alert": "1", "alert_type": "threshold:2,4"}
            elif i in (2, 12):
                kw = {"alert": "1", "alert_type": "individual"}
            add(f"{prefix}cmd_{i}", "match", "icd_code", code,
                category="diagnosis", **kw)
        # ICD chapter codes by prefix: sub_match, priority-ranked
        for i, pre in enumerate(["A0", "A3", "B0", "E1", "J", "Z"], 1):
            add(f"{prefix}chp_{i}", "sub_match", "icd_code", pre,
                category="chapter", group="chapter", priority=str(i))
        add(f"{prefix}cds_1", "sub_match", "icd_code",
            "A0,A1,A2,A3,A7,A8,A9,B0,B1,B2,B5", category="communicable")
        add(f"{prefix}ncd_1", "sub_match", "icd_code", "E1,E4,I1,I2,J45,F3",
            category="non_communicable")
        for i, s in enumerate(SYMPTOMS[:4], 1):
            add(f"{prefix}sym_{i}", "sub_match", "symptoms", s,
                category="symptoms")
        add(f"{prefix}sym_1_u5", "sub_match and between",
            "symptoms;pt1./age", f"{SYMPTOMS[0]};0,5",
            calculation=";pt1./age", category="symptoms_u5")
        for i, f in enumerate(["pregnant", "vaccination", "sari"], 1):
            add(f"{prefix}yes_{i}", "match", f, "yes", category="risk")
        add(f"{prefix}prg_1", "match and match", "pregnant;pt1./gender",
            "yes;female", category="pregnancy")
        add(f"{prefix}smo_1", "match or match", "smoke_ever;smoke_now",
            "yes;yes", category="smoking")
        add(f"{prefix}smo_2", "match and match or match",
            "smoke_ever;pt1./gender;smoke_now", "yes;male;yes",
            category="smoking")
        # labs: between over raw values and arithmetic calculations
        add(f"{prefix}lab_3", "between", "results./bmi_weight,results./bmi_height",
            "0,18.5", calculation="results./bmi_weight / "
            "((results./bmi_height/100) * (results./bmi_height/100))",
            category="bmi", group="bmi")
        add(f"{prefix}lab_4", "between", "results./bmi_weight,results./bmi_height",
            "18.5,25", calculation="results./bmi_weight / "
            "((results./bmi_height/100) * (results./bmi_height/100))",
            category="bmi", group="bmi")
        add(f"{prefix}lab_5", "between", "results./bmi_weight,results./bmi_height",
            "25,1000", calculation="results./bmi_weight / "
            "((results./bmi_height/100) * (results./bmi_height/100))",
            category="bmi", group="bmi")
        for i, (f, lo, hi) in enumerate([
                ("results./bp_systolic", 140, 1000),
                ("results./glucose_fasting", 126, 1000),
                ("results./hba1c", 7, 100)], 6):
            add(f"{prefix}lab_{i}", "between", f, f"{lo},{hi}",
                calculation=f, category="labs")
        add(f"{prefix}lab_12", "calc",
            "results./bp_systolic,results./bp_diastolic",
            calculation="results./bp_systolic - results./bp_diastolic",
            category="labs_value")
        add(f"{prefix}lab_13", "calc", "results./bmi_weight,results./bmi_height",
            calculation="int(results./bmi_weight * 10000 / "
            "(results./bmi_height * results./bmi_height))",
            category="labs_value")
        add(f"{prefix}lab_14", "calc", "pt./visit_date,SubmissionDate",
            calculation="(Variable.to_date(SubmissionDate) - "
            "Variable.to_date(pt./visit_date)) / 86400",
            category="delay")
        add(f"{prefix}pip_1", "not_null", "pip./namru", "None",
            category="pip")
        add(f"{prefix}pip_2", "value", "pip./namru", category="pip_value")
        add(f"{prefix}dat_1", "value", "pt./visit_date", calculation="date",
            category="dates")
        # disregard: test records leave `data` for `disregarded`
        add(f"{prefix}dis_1", "match", "test_record", "yes", disregard="1",
            category="test")
        # fill to ~200 with age x diagnosis-chapter cross codes
        n = len(out)
        chapters = ["A0", "A9", "B0", "B5", "E1", "I", "J", "K"]
        k = 0
        while n + k < target:
            lo, hi = bands[k % len(bands)]
            pre = chapters[(k // len(bands)) % len(chapters)]
            gender = "female" if (k // (len(bands) * len(chapters))) % 2 == 0 \
                else "male"
            add(f"{prefix}xdx_{k + 1}", "sub_match and between and match",
                "icd_code;pt1./age;pt1./gender", f"{pre};{lo},{hi};{gender}",
                calculation=";pt1./age;", category="age_chapter")
            k += 1
        if typ == "case":
            # link codes over the alert investigation form
            add("ale_1", "value", "alert_labs./return_lab", multiple_link="last",
                link_form="demo_alert", category="investigation")
            add("ale_2", "match", "alert_labs./return_lab", "yes",
                multiple_link="any", link_form="demo_alert",
                category="investigation")
            add("ale_3", "not_null", "pt./alert_id", "None",
                multiple_link="count", link_form="demo_alert",
                category="investigation")
            add("ale_4", "match", "alert_labs./return_lab", "no",
                multiple_link="first", link_form="demo_alert",
                category="investigation")
    else:
        fields = ["consult./consultations", "consult./ncd_consultations",
                  "consult./consultations_refugee", "surveillance./afp",
                  "surveillance./measles"]
        for i, f in enumerate(fields, 1):
            add(f"{prefix}nn_{i}", "not_null", f, "None", category="reported")
            add(f"{prefix}val_{i}", "value", f, category="counts")
        for j, (lo, hi) in enumerate([(0, 10), (10, 100), (100, 100000)], 1):
            add(f"{prefix}rng_1_{j}", "between", fields[0], f"{lo},{hi}",
                calculation=fields[0], category="ranges", group="range_1")
        add(f"{prefix}sum_1", "calc", ",".join(fields[:3]),
            calculation=" + ".join(fields[:3]), category="totals")
        add(f"{prefix}sum_2", "calc", ",".join(fields[3:]),
            calculation=" + ".join(fields[3:]), category="totals")
        add(f"{prefix}mod_1", "match", "intro./module", "ncd", category="module")
        add(f"{prefix}mod_2", "match", "intro./module", "cd", category="module")
        add(f"{prefix}dis_1", "match", "test_record", "yes", disregard="1",
            category="test")
        add(f"{prefix}dat_1", "value", "SubmissionDate", calculation="date",
            category="dates")
        n = len(out)
        k = 0
        while n + k < target:
            a = fields[k % len(fields)]
            b = fields[(k // len(fields) + 1 + k % len(fields)) % len(fields)]
            lo = (k * 7) % 60
            if k % 3 == 0:
                add(f"{prefix}x_{k + 1}", "between and not_null", f"{a};{b}",
                    f"{lo},{lo + 40};None", calculation=f"{a};",
                    category="cross")
            elif k % 3 == 1:
                add(f"{prefix}x_{k + 1}", "between or between", f"{a};{b}",
                    f"{lo},{lo + 20};{lo},{lo + 20}", calculation=f"{a};{b}",
                    category="cross")
            else:
                add(f"{prefix}x_{k + 1}", "match and between",
                    f"intro./module;{a}", f"ncd;{lo},{lo + 30}",
                    calculation=f";{a}", category="cross")
            k += 1
    return out


def locations():
    rows = [(1, "Demo", "country", 0, "", "", "", "", "")]
    rows += [(2, "Region A", "region", 1, "", "", "", "", ""),
             (3, "Region B", "region", 1, "", "", "", "", "")]
    rows += [(4 + d, f"District {d + 1}", "district", 2 + d % 2, "", "", "",
              "", str(20000 + 1000 * d)) for d in range(4)]
    for i in range(40):
        devices = f"d{i}" + (f",e{i}" if i % 8 == 0 else "")
        rows.append((10 + i, f"Clinic {i}", "clinic", 4 + i % 4, devices,
                     "Hospital" if i % 5 == 0 else "Primary",
                     "pip" if i % 10 == 0 else "",
                     "pilot" if i % 3 == 0 else "", str(1000 + 10 * i)))
    with open("locations.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "name", "level", "parent", "deviceid",
                    "clinic_type", "case_type", "device_tags", "population"])
        w.writerows(rows)


def main():
    locations()
    rows = (rows_for("case", "demo_case", "", TARGET["case"])
            + rows_for("visit", "demo_case", "v_", TARGET["visit"])
            + rows_for("register", "demo_register", "r_", TARGET["register"]))
    with open("codes.csv", "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=HEADER)
        w.writeheader()
        w.writerows(rows)


if __name__ == "__main__":
    main()
