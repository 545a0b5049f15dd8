"""Seeded generator for the `hr_etl` workload.

Writes the five raw CSVs of `graft.etl.HrSchemas` and returns the answers the
pipeline must produce on them. Every defect the cleaners and validators
handle is planted in a known amount, and the data is built so that each
defect has exactly one effect:

- duplicate reviews (same employee and date, higher review_id) drop in the
  keep-first dedup;
- ratings outside 1-5 drop in the range filter;
- inactive and zero-salary employees drop in `cleanEmployees`;
- orphan foreign keys (employees -> departments, reviews -> employees,
  assignments -> projects) each count one violation per distinct orphan key;
- projects and assignments with end_date < start_date drop;
- assignments above 100 percent allocation drop.

Reviews and assignments only ever point at surviving employees and projects
(or at planted orphans), so no cleaning step turns a good row into an FK
violation. A top-salary department, five top-rated employees, a
longest-tenured employee and a department with the most active projects are
planted with clear margins, so the report lines are known exactly.
"""
import csv
import datetime as dt
import math
import os
import random
from decimal import Decimal, ROUND_HALF_EVEN

AS_OF = dt.date(2026, 1, 1)

# Rows per table. Every sink and eager DQ check re-runs the
# lineage from CSV, so the pass is bound by per-job cost at this size; larger
# inputs lengthen the pass past what the run budget allows.
SIZES = {"departments": 40, "employees": 2000, "reviews": 8000,
         "projects": 400, "assignments": 4000}


def _date(d):
    return d.isoformat()


def generate(seed, out_dir):
    """Write the raw CSVs under `out_dir`; return the expected answers."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    planted = {}

    # departments: unique lower-case names, initcap'd by the pipeline
    words = ["research", "sales", "finance", "legal", "support", "design",
             "operations", "marketing", "platform", "security"]
    depts = []
    for i in range(1, SIZES["departments"] + 1):
        name = f"{words[i % len(words)]} unit{i:03d}"
        depts.append((i, name, f"site{rng.randrange(9)}",
                      float(rng.randrange(100, 900) * 1000), None))
    dept_ids = [d[0] for d in depts]
    top_salary_dept = rng.choice(dept_ids)
    top_active_dept = rng.choice([d for d in dept_ids if d != top_salary_dept])

    # employees
    emps = []  # (id, name, dept, salary, hire, manager, bonus, status)
    n_emp = SIZES["employees"]
    inactive = set(rng.sample(range(1, n_emp + 1), max(1, n_emp // 40)))
    rest = [e for e in range(1, n_emp + 1) if e not in inactive]
    zero_sal = set(rng.sample(rest, max(1, n_emp // 60)))
    rest = [e for e in rest if e not in zero_sal]
    n_orph_dept_keys = 7
    orphan_dept_emps = set(rng.sample(rest, n_orph_dept_keys * 3))
    rest = [e for e in rest if e not in orphan_dept_emps]
    top_rated = sorted(rng.sample(rest, 5))
    rest = [e for e in rest if e not in top_rated]
    longest = rng.choice(rest)
    orphan_dept_of = {e: 1000 + i % n_orph_dept_keys
                      for i, e in enumerate(sorted(orphan_dept_emps))}
    for e in range(1, n_emp + 1):
        if e in orphan_dept_of:
            dept = orphan_dept_of[e]
        else:
            dept = rng.choice(dept_ids)
        salary = float(rng.randrange(30000, 150000))
        if dept == top_salary_dept:
            salary = 250000.0
        status = rng.choice(["active", "active", "active", "terminated",
                             "leave"])
        if e in inactive:
            status = "inactive"
        if e in zero_sal:
            status, salary = "active", 0.0
            if dept == top_salary_dept:
                dept = rng.choice([d for d in dept_ids
                                   if d != top_salary_dept])
        hire = AS_OF - dt.timedelta(days=rng.randrange(200, 11000))
        if e == longest:
            hire = dt.date(1981, 3, 9)
        manager = rng.randrange(1, n_emp + 1) if rng.random() < 0.8 else None
        emps.append((e, f"emp_{e:06d}", dept, salary, hire, manager,
                     rng.choice(["Y", "N"]), status))
    survivors = [e for e in range(1, n_emp + 1)
                 if e not in inactive and e not in zero_sal]
    surv_set = set(survivors)
    normal_reviewed = [e for e in survivors if e not in top_rated]

    # performance reviews: (employee, date) unique by construction
    reviews = []
    next_review_date = {}
    rid = 0

    def add_review(emp, rating, date=None):
        nonlocal rid
        rid += 1
        if date is None:
            k = next_review_date.get(emp, 0)
            next_review_date[emp] = k + 1
            date = dt.date(2019, 1, 7) + dt.timedelta(days=7 * k)
        reviews.append((rid, emp, date, rating, rng.randrange(1, n_emp + 1)))
        return reviews[-1]

    for _ in range(SIZES["reviews"]):
        add_review(rng.choice(normal_reviewed),
                   rng.randrange(2, 10) / 2.0)  # 1.0 .. 4.5
    for e in top_rated:
        for _ in range(3):
            add_review(e, 5.0)
    n_dup = max(1, SIZES["reviews"] // 50)
    for src in rng.sample(reviews[:SIZES["reviews"]], n_dup):
        add_review(src[1], rng.randrange(2, 10) / 2.0, date=src[2])
    n_oor = max(1, SIZES["reviews"] // 80)
    for _ in range(n_oor):
        add_review(rng.choice(normal_reviewed), rng.choice([0.0, 6.0, 7.5]))
    n_orph_emp_keys = 5
    for k in range(n_orph_emp_keys * 2):
        add_review(900000 + k % n_orph_emp_keys, 3.0)

    # projects
    projects = []
    active_by_dept = {d: 0 for d in dept_ids}
    durations = []
    n_proj = SIZES["projects"]
    n_bad_proj = max(1, n_proj // 40)
    bad_proj = set(rng.sample(range(1, n_proj + 1), n_bad_proj))
    for p in range(1, n_proj + 1):
        dept = rng.choice([d for d in dept_ids if d != top_active_dept])
        start = AS_OF - dt.timedelta(days=rng.randrange(30, 2000))
        if p in bad_proj:
            end = start - dt.timedelta(days=rng.randrange(1, 90))
        elif rng.random() < 0.25:
            end = None
        else:
            end = start + dt.timedelta(days=rng.randrange(10, 1500))
        projects.append([p, f"project {p}", dept, start, end,
                         float(rng.randrange(5, 500) * 1000), "open"])
    good_projects = [p for p in range(1, n_proj + 1) if p not in bad_proj]
    for row in projects:
        if row[0] not in bad_proj:
            end = row[4]
            if end is None or end > AS_OF:
                active_by_dept[row[2]] += 1
    # the planted top department: strictly more active projects than any
    margin = max(active_by_dept.values()) + 3
    for k in range(margin):
        p = n_proj + 1 + k
        start = AS_OF - dt.timedelta(days=rng.randrange(30, 900))
        projects.append([p, f"project {p}", top_active_dept, start, None,
                         float(rng.randrange(5, 500) * 1000), "open"])
        good_projects.append(p)
        active_by_dept[top_active_dept] += 1
    for row in projects:
        if row[0] not in bad_proj:
            durations.append(((row[4] or AS_OF) - row[3]).days)

    # project assignments
    assignments = []
    n_over = max(1, SIZES["assignments"] // 60)
    n_asg_bad = max(1, SIZES["assignments"] // 70)
    n_orph_proj_keys = 4
    aid = 0

    def add_asg(emp, proj, alloc, start, end):
        nonlocal aid
        aid += 1
        assignments.append((aid, emp, proj, rng.choice(["dev", "lead", "qa"]),
                            alloc, start, end))

    for _ in range(SIZES["assignments"]):
        start = AS_OF - dt.timedelta(days=rng.randrange(10, 1500))
        end = None if rng.random() < 0.3 else \
            start + dt.timedelta(days=rng.randrange(0, 400))
        add_asg(rng.choice(survivors), rng.choice(good_projects),
                float(rng.randrange(5, 101)), start, end)
    for _ in range(n_over):
        add_asg(rng.choice(survivors), rng.choice(good_projects),
                float(rng.randrange(101, 180)), AS_OF, None)
    for _ in range(n_asg_bad):
        start = AS_OF - dt.timedelta(days=rng.randrange(10, 900))
        add_asg(rng.choice(survivors), rng.choice(good_projects), 50.0,
                start, start - dt.timedelta(days=rng.randrange(1, 30)))
    for k in range(n_orph_proj_keys * 3):
        add_asg(rng.choice(survivors), 800000 + k % n_orph_proj_keys, 20.0,
                AS_OF, None)

    _write(out_dir, "departments",
           ["department_id", "department_name", "location", "budget",
            "manager_id"], depts)
    _write(out_dir, "employees",
           ["employee_id", "name", "department_id", "salary", "hire_date",
            "manager_id", "bonus_eligible", "status"], emps)
    _write(out_dir, "performance_reviews",
           ["review_id", "employee_id", "review_date", "rating",
            "reviewer_id"], reviews)
    _write(out_dir, "projects",
           ["project_id", "project_name", "department_id", "start_date",
            "end_date", "budget", "status"], projects)
    _write(out_dir, "project_assignments",
           ["assignment_id", "employee_id", "project_id", "role",
            "allocation_percentage", "start_date", "end_date"], assignments)

    planted.update(inactive=len(inactive), zero_salary=len(zero_sal),
                   duplicate_reviews=n_dup, out_of_range_ratings=n_oor,
                   orphan_dept_keys=n_orph_dept_keys,
                   orphan_employee_keys=n_orph_emp_keys,
                   orphan_project_keys=n_orph_proj_keys,
                   bad_date_projects=n_bad_proj, bad_date_assignments=n_asg_bad,
                   over_allocated=n_over)

    n_dim_emp = len(survivors)
    n_clean_proj = len(projects) - n_bad_proj
    rows_out = {
        "dim_departments": len(depts),
        "dim_employees": n_dim_emp,
        "fact_performance_reviews": len(reviews) - n_dup - n_oor,
        "fact_project_assignments": len(assignments) - n_over - n_asg_bad,
        "summary_dept_metrics": len(depts),
        "summary_emp_performance": n_dim_emp,
    }
    checks = _expected_checks(n_orph_dept_keys, n_orph_emp_keys,
                              n_orph_proj_keys)
    emp_name = {e[0]: e[1] for e in emps}
    dept_name = {d[0]: d[1].title() for d in depts}
    days = (AS_OF - dt.date(1981, 3, 9)).days
    tenure = math.floor(days / 365.25 * 10.0 + 0.5) / 10.0
    avg_dur = _bround(sum(durations) / len(durations), 1)
    report = [
        "HR ANALYTICS SUMMARY",
        "====================",
        f"Highest avg salary dept : {dept_name[top_salary_dept]} "
        f"($250,000.00)",
        "Top rated employees     : "
        + ", ".join(f"{emp_name[e]} (5.0)" for e in top_rated),
        f"Most active projects    : {dept_name[top_active_dept]} "
        f"({active_by_dept[top_active_dept]} active)",
        f"Longest tenure          : {emp_name[longest]} ({_jdouble(tenure)} years)",
        f"Avg project duration    : {_jdouble(avg_dur)} days",
    ]
    input_rows = (len(depts) + len(emps) + len(reviews) + len(projects)
                  + len(assignments))
    assert longest in surv_set
    return {"planted": planted, "rows_out": rows_out, "checks": checks,
            "dq_stats": [len(checks), sum(1 for c in checks if c[3] == 0),
                         sum(1 for c in checks if c[3] > 0)],
            "report": report, "input_rows": input_rows,
            "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                               for f in os.listdir(out_dir))}


def _expected_checks(orph_dept, orph_emp, orph_proj):
    """The (table, check, detail, violations) rows of the eager DQ suite, in
    the order `HrPipeline.build` unions them."""
    e, r, a, p = ("employees", "performance_reviews", "project_assignments",
                  "projects")
    return [
        (e, "null_pk", "employee_id", 0), (e, "duplicate_pk", "employee_id", 0),
        (e, "null_required", "name", 0), (e, "null_required", "salary", 0),
        (e, "null_required", "hire_date", 0),
        (e, "fk_consistency", "department_id->department_id", orph_dept),
        (e, "accuracy", "status_enum", 0),
        (e, "accuracy", "active_salary_positive", 0),
        (r, "null_pk", "review_id", 0), (r, "duplicate_pk", "review_id", 0),
        (r, "null_required", "employee_id", 0),
        (r, "null_required", "rating", 0),
        (r, "null_required", "review_date", 0),
        (r, "fk_consistency", "employee_id->employee_id", orph_emp),
        (r, "accuracy", "rating_range", 0),
        (a, "fk_consistency", "project_id->project_id", orph_proj),
        (a, "fk_consistency", "employee_id->employee_id", 0),
        (a, "accuracy", "allocation_range", 0),
        (p, "null_pk", "project_id", 0), (p, "duplicate_pk", "project_id", 0),
        (p, "null_required", "project_name", 0),
        (p, "null_required", "start_date", 0),
        (p, "accuracy", "budget_null_or_positive", 0),
    ]


def _bround(x, scale):
    """Spark's `bround` on a double: HALF_EVEN on the decimal rendering."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN))


def _jdouble(x):
    """Render a double the way the JVM's Double.toString does for the
    magnitudes the report prints (one decimal, below 1e7)."""
    return repr(float(x))


def _write(out_dir, table, header, rows):
    with open(os.path.join(out_dir, f"{table}.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for row in rows:
            w.writerow(["" if v is None else
                        _date(v) if isinstance(v, dt.date) else v
                        for v in row])
